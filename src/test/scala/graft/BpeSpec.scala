package graft

import org.scalatest.funsuite.AnyFunSuite

/** Laws for BPE training (ops/BpeOps.scala). The full loop has no SQL
  * oracle (rounds compose), so the spec pins it three ways: an exact
  * hand-computed merge table on a tiny corpus, the overlap counting rule,
  * and agreement between the declared first-round pair query (q170, which
  * IS oracle-checked) and training's first merge (q171 row 0).
  */
class BpeSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.session
  private val dir = SparkTest.sfDir
  import ops.BpeOps

  private def docsOf(texts: String*) = {
    val s = spark
    import s.implicits._
    texts.toDF("text")
  }

  test("overlapping pairs count at every adjacent position ('aaaa' → 3×(a,a))") {
    val m = BpeOps.fit(docsOf("aaaa"), 5).collect()
    // round 0: [a,a,a,a] has three (a,a) positions; greedy leftmost merge
    // gives [aa,aa]; round 1: one (aa,aa); round 2: single symbol → stop
    assert(m.map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      == Seq((0, "a", "a", 3L), (1, "aa", "aa", 1L)))
  }

  test("exact merge table on 'banana' ×3 (ties break lexicographic on (l, r))") {
    val m = BpeOps.fit(docsOf("banana banana banana"), 10).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    // (a,n) and (n,a) tie at 6 → (a,n) wins; then the three 3-count pairs
    // resolve (an,a) → (an,ana) → (b,anana), reassembling the word
    assert(m == Seq(
      (0, "a", "n", 6L),
      (1, "an", "a", 3L),
      (2, "an", "ana", 3L),
      (3, "b", "anana", 3L)))
  }

  test("q171 row 0 ≡ q170's argmax pair (training consumes the declared pair table)") {
    val firstPair = BpeOps.q170BpePairs(spark, dir).head
    val firstMerge = BpeOps.q171BpeTrain(spark, dir).head
    assert((firstMerge.getString(1), firstMerge.getString(2), firstMerge.getLong(3))
      == (firstPair.getString(0), firstPair.getString(1), firstPair.getLong(2)))
  }

  test("q173 encode-step bookkeeping is exact on the hand corpus") {
    // 'banana'×3: argmax pair (a,n); 2 occurrences/word × 3 words
    val s = spark
    import s.implicits._
    val words = Seq("banana banana banana").toDF("text")
    // replicate q173's arithmetic via fit: 18 chars before, 6 merged → 12
    val m = ops.BpeOps.fit(words, 1).head
    assert((m.getString(1), m.getString(2), m.getLong(3)) == ("a", "n", 6L))
  }

  test("q173 totals are consistent: after = before − merged, merged = argmax count") {
    val r = ops.BpeOps.q173BpeEncodeStep(spark, dir).head
    val (before, after, merged) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(after == before - merged && merged > 0)
    val top = ops.BpeOps.q170BpePairs(spark, dir).head
    assert(merged <= top.getLong(2),
      "leftmost non-overlapping applications cannot exceed the pair count")
  }

  test("degenerate corpora: empty text and single chars stop training early") {
    assert(BpeOps.fit(docsOf(""), 5).collect().isEmpty)
    // single-character words have no adjacent pairs → no merges
    assert(BpeOps.fit(docsOf("a b c a b"), 5).collect().isEmpty)
  }

  test("q171 trains the requested number of merges with positive counts") {
    val m = BpeOps.q171BpeTrain(spark, dir).collect()
    assert(m.length == 20)
    assert(m.map(_.getInt(0)).toSeq == (0 until 20))
    m.foreach(r => assert(r.getLong(3) > 0L))
  }
}
