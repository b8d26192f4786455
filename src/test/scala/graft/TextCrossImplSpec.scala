package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Cross-implementation pins for three older flagship text operators
  * (q184 collocation lift, q165 inverted index, q174 segment dedup) —
  * the same pattern Extended10PropertySpec established for the
  * batch-2 family: a generated corpus runs through the Spark core AND
  * an independent driver-side reimplementation (Scala collections
  * only), outputs compared exactly. The generator builds documents
  * from a small pool of sentence chunks so segments, trigrams, and
  * bigrams genuinely collide across documents (uniform-random words
  * would make every dedup/df test vacuous).
  */
class TextCrossImplSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.session
  import spark.implicits._

  private val chunks = Vector(
    "alpha beta gamma delta eps", "zeta eta theta iota kappa",
    "mu nu alpha beta gamma", "delta eps zeta eta theta",
    "kappa mu nu alpha beta", "gamma delta eps zeta eta",
    "theta iota kappa mu nu", "alpha gamma eps eta iota")

  /** n docs of 1–5 pooled chunks: heavy cross-doc overlap. */
  private def corpus(seed: Long, n: Int): Seq[(Long, String)] = {
    val g = for {
      k <- Gen.chooseNum(1, 5)
      cs <- Gen.listOfN(k, Gen.oneOf(chunks))
    } yield cs.mkString(" ")
    (0 until n).map(i =>
      (i.toLong * 3 + 1, g(Gen.Parameters.default, Seed(seed + i)).get))
  }

  private def tokensOf(text: String): Vector[String] =
    text.toLowerCase.split("[^a-z]+").iterator.filter(_.nonEmpty).toVector

  // ------------------------------------------------------------- q184
  test("q184 collocation lift matches an independent reimplementation") {
    val docs = corpus(11L, 120)
    val got = graft.ops.TextOps.collocationLift(
        docs.map(_._2).toDF("text"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    // reference
    val toks = docs.map(d => tokensOf(d._2))
    val uni = toks.flatten.groupBy(identity).map { case (w, xs) =>
      w -> xs.size.toLong }
    val bi = toks.filter(_.length >= 2)
      .flatMap(t => t.sliding(2).map(p => (p(0), p(1))))
      .groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
    val uu = uni.values.sum; val bb = bi.values.sum
    val expect = bi.toSeq.filter(_._2 >= 3)
      .map { case ((w1, w2), cxy) =>
        // SAME association order as the Spark/oracle expression
        val lift = (cxy.toDouble * uu * uu) / (bb.toDouble * uni(w1) * uni(w2))
        val rounded = new java.math.BigDecimal(lift)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        (w1, w2, cxy, rounded)
      }
      .sortBy { case (w1, w2, cxy, _) => (-cxy, w1, w2) }.take(100)
    assert(got == expect)
  }

  // ------------------------------------------------------------- q165
  test("q165 inverted index matches an independent reimplementation") {
    val docs = corpus(22L, 120)
    val got = graft.ops.Extended8.invertedIndex(docs.toDF("doc_id", "text"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .toSeq
    val expect = docs
      .map { case (id, text) => (id, tokensOf(text)) }
      .filter(_._2.length >= 3)
      .flatMap { case (id, t) =>
        t.sliding(3).map(_.mkString(" ")).distinct.map(g => (g, id)) }
      .groupBy(_._1).toSeq
      .map { case (g, xs) =>
        (g, xs.size.toLong, xs.map(_._2).sorted.mkString(",")) }
      .filter(x => x._2 >= 2 && x._2 <= 5)
      .sortBy(_._1)
    assert(got == expect)
  }

  // ------------------------------------ portable MinHash/LSH core
  test("portablePairs matches a first-principles reimplementation") {
    val docs = corpus(44L, 100)
    val got = graft.ops.Similarity.portablePairs(Pins.forPlan,
        docs.toDF("doc_id", "text"), minEst = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    // reference: 3-shingles → 4 md5s per shingle ("j:s") → 16
    // component mins of 8-hex words → 4 band keys (md5 of 4 joined
    // components) → band-equality candidates → matches/16
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val sigs = docs.map { case (id, text) =>
      val t = tokensOf(text)
      val sh = if (t.length >= 3) t.sliding(3).map(_.mkString(" ")).toSeq
        else Seq(t.mkString(" "))
      val comps = for { j <- 0 until 4; w <- 0 until 4 } yield
        sh.map(s => md5hex(s"$j:$s").substring(w * 8, w * 8 + 8)).min
      val bandKeys = (0 until 4).map(b =>
        md5hex(comps.slice(b * 4, b * 4 + 4).mkString("")))
      (id, comps, bandKeys)
    }
    val expect = (for {
      (ida, ca, ba) <- sigs; (idb, cb, bb) <- sigs
      if ida < idb && ba.zip(bb).exists { case (x, y) => x == y }
    } yield {
      val matches = ca.zip(cb).count { case (x, y) => x == y }
      (ida, idb, new java.math.BigDecimal(matches / 16.0)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
    }).filter(_._3 >= 0.5).toSet
    assert(expect.nonEmpty, "generator must produce near-dup pairs")
    assert(got == expect)
  }

  // ------------------------------------------------------------- q99
  test("q99 hashed 8-gram decontamination matches an independent reimplementation") {
    // re-id to 0..n so the doc_id % 97 == 0 bench slice is non-trivial;
    // pad the bench docs to ≥8 tokens (a 1-chunk doc has only 5) so
    // the slice always contributes grams
    val docs = corpus(55L, 150).zipWithIndex
      .map { case ((_, t), i) =>
        val id = i.toLong
        (id, if (id % 97 == 0) t + " " + chunks(0) + " " + chunks(1) else t)
      }
    val got = graft.ops.Extended3.decontaminateNgram(
        docs.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // reference: 8-token windows (the gram identity is the joined
    // string itself — md5 is injective here), bench = id % 97 == 0,
    // per-doc DISTINCT overlapping grams
    def grams(t: Vector[String]): Seq[String] =
      if (t.length >= 8) t.sliding(8).map(_.mkString(" ")).toSeq else Nil
    val bench = docs.filter(_._1 % 97 == 0)
      .flatMap(d => grams(tokensOf(d._2))).toSet
    assert(bench.nonEmpty, "generator must produce a bench slice")
    val expect = docs
      .map { case (id, t) =>
        (id, grams(tokensOf(t)).distinct.count(bench).toLong) }
      .filter(_._2 > 0)
      .sortBy(_._1)
    assert(got == expect)
    assert(expect.exists(x => x._1 % 97 != 0),
      "chunk pool must contaminate non-bench docs")
  }

  // ------------------------------------------------------------- q89
  test("q89 phrase decontamination matches an independent reimplementation") {
    val docs = corpus(66L, 150).zipWithIndex
      .map { case ((_, t), i) =>
        val id = i.toLong
        (id, if (id % 97 == 0) t + " " + chunks(2) + " " + chunks(3) else t)
      }
    val got = graft.ops.Extended3.decontaminatePhrases(
        docs.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // reference: phrase = first 8 normalized tokens of each bench doc
    // (id % 97 == 0, ≥8 tokens); a doc hits when its normalized text
    // CONTAINS the phrase as a substring (the declared semantics —
    // substring, not token-aligned)
    val norm = docs.map { case (id, t) => (id, tokensOf(t)) }
    val phrases = norm
      .filter { case (id, t) => id % 97 == 0 && t.length >= 8 }
      .map(_._2.take(8).mkString(" ")).distinct
    assert(phrases.nonEmpty)
    val expect = norm
      .map { case (id, t) =>
        val s = t.mkString(" ")
        (id, phrases.count(s.contains).toLong) }
      .filter(_._2 > 0)
      .sortBy(_._1)
    assert(got == expect)
  }

  // ------------------------------------------------------------- q174
  test("q174 segment dedup matches an independent reimplementation") {
    val docs = corpus(33L, 120)
    val got = graft.ops.Extended9.segmentDedup(docs.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSeq
    // reference: 10-token windows at starts 0,10,20,…; GLOBAL
    // first-occurrence keep by okey = doc_id·1e7 + start (sha256 is
    // injective here — dedup on the segment text itself is the same
    // relation); kept segments reassemble in start order
    val segs = docs.flatMap { case (id, text) =>
      val t = tokensOf(text)
      if (t.isEmpty) Nil
      else (0L until t.length by 10L).map { s =>
        (id * 10000000L + s, id, s, t.slice(s.toInt, s.toInt + 10).mkString(" "))
      }
    }
    val firstKey = segs.groupBy(_._4).map { case (txt, xs) =>
      txt -> xs.map(_._1).min }
    val expect = segs
      .filter(x => firstKey(x._4) == x._1)
      .groupBy(_._2).toSeq
      .map { case (id, xs) =>
        val kept = xs.sortBy(_._3)
        (id, kept.size.toLong, kept.map(_._4).mkString(" ")) }
      .sortBy(_._1)
    assert(got == expect)
  }
}
