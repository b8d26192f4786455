package graft

import graft.ops.Extended10
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Cross-implementation pins for the q185–q190 family: fixed-seed
  * generated corpora run through the Spark builders and through an
  * INDEPENDENT driver-side reimplementation (java MessageDigest +
  * Scala collections — no Spark expressions shared), outputs compared
  * exactly. This is the strongest pin available for operators whose
  * t2 oracle only covers the shipped testdata distribution.
  */
class Extended10PropertySpec extends AnyFunSuite {
  lazy val spark = SparkTest.session
  import spark.implicits._

  // ---------------------------------------------------- reference bits
  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def tokensOf(text: String): Vector[String] =
    text.toLowerCase.split("[^a-z]+").iterator
      .filter(_.nonEmpty).toVector

  private def bucketOf(bigram: String): Int =
    (java.lang.Long.parseLong(md5hex(bigram).take(6), 16) % 10000).toInt

  private def drawOf(docId: Long, i: Int): Int =
    Integer.parseInt(md5hex(s"$docId:$i").take(4), 16) % 100

  // ------------------------------------------------- corpus generator
  private val words = Vector("alpha", "beta", "gamma", "delta", "eps",
    "zeta", "eta", "theta", "iota", "kappa", "mu", "nu")

  /** n docs with distinct ids, 0–24 words each, lang en/fr. */
  private def corpus(seed: Long, n: Int): Seq[(Long, String, String)] = {
    val g = for {
      len <- Gen.chooseNum(0, 24)
      ws <- Gen.listOfN(len, Gen.oneOf(words))
      lang <- Gen.oneOf("en", "fr")
    } yield (ws.mkString(" "), lang)
    (0 until n).map { i =>
      val (text, lang) = g(Gen.Parameters.default, Seed(seed + i)).get
      (i.toLong * 7 + 3, text, lang)
    }
  }

  // ------------------------------------------------------------- q189
  test("q189 span accounting matches an independent md5 reimplementation") {
    val docs = corpus(101L, 60)
    val got = Extended10.spanCorruption(
        docs.map { case (id, t, _) => (id, t) }.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    docs.foreach { case (id, text, _) =>
      val mask = tokensOf(text).indices.map(i => drawOf(id, i + 1) < 15)
      val spans = mask.indices.count(i => mask(i) && (i == 0 || !mask(i - 1)))
      val expect = (mask.length.toLong, mask.count(identity).toLong,
        spans.toLong)
      assert(got(id) == expect, s"doc $id: ${got(id)} != $expect")
    }
  }

  // ------------------------------------------------------------- q186
  test("q186 DSIR selection matches an independent reimplementation") {
    val docs = corpus(202L, 80)
    val got = Extended10.dsirSelect(docs.toDF("doc_id", "text", "lang"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    // reference: bigram instances → bucket counts → weights → scores
    val inst = docs.flatMap { case (id, text, lang) =>
      val t = tokensOf(text)
      if (t.length < 2) Nil
      else t.sliding(2).map(p => (id, lang,
        bucketOf(p(0) + " " + p(1)))).toSeq
    }
    val byBucket = inst.groupBy(_._3).map { case (b, xs) =>
      b -> ((1000000L * (xs.count(_._2 == "en") + 1)) / (xs.size + 1))
    }
    val expect = inst.groupBy(_._1).map { case (id, xs) =>
      val score = xs.map(x => byBucket(x._3)).sum
      (id, xs.size.toLong, score, score / xs.size)
    }.toSeq
      .sortBy { case (id, _, s, ns) => (-ns, -s, id) }.take(50)
    assert(got == expect)
  }

  // ------------------------------------------------------------- q190
  test("q190 BM25 matches an independent reimplementation") {
    val docs = corpus(303L, 80).map { case (id, t, _) => (id, t) }
    val got = Pins.scoped(p => Extended10.bm25Plan(p, docs.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3))).toSeq)
    // reference
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
    val expect = qterms.flatMap { case (q, w) =>
      tf.filter(_._3 == w).map { case (id, dl, _, f) =>
        val sdl = (1000L * dl * n) / l
        val idf = (1000000L * (2 * (n - df(w)) + 1)) / (2 * df(w) + 1)
        val tfp = (44000000L * f) / (20000L * f + 6000L + 18L * sdl)
        (q, id, idf * tfp)
      }
    }.groupBy(x => (x._1, x._2)).map { case ((q, id), xs) =>
      (q, id, xs.map(_._3).sum)
    }.toSeq.groupBy(_._1).toSeq.flatMap { case (q, xs) =>
      xs.sortBy(x => (-x._3, x._2)).take(10).zipWithIndex
        .map { case ((_, id, s), i) => (q, i + 1L, id, s) }
    }.sortBy(x => (x._1, x._2))
    assert(got == expect)
  }

  // ------------------------------------------------------------- q188
  test("unimax waterfill laws on arbitrary weights") {
    val gl = for {
      k <- Gen.chooseNum(1, 12)
      cnts <- Gen.listOfN(k, Gen.chooseNum(0L, 100000L))
    } yield cnts
    (0 until 200).foreach { i =>
      val cnts = gl(Gen.Parameters.default, Seed(404L + i)).get
      val perLang = cnts.zipWithIndex.map { case (c, j) => (s"l$j", c) }
      val budget = cnts.sum / 2
      val out = Extended10.unimaxAlloc(perLang, cap = 3L, budget = budget)
      assert(out.map(_._3).sum <= budget, "budget is a ceiling")
      out.foreach { case (lang, cnt, alloc) =>
        assert(alloc >= 0 && alloc <= 3L * cnt, s"$lang cap violated")
      }
      // waterfill exhausts the budget unless the LAST (largest)
      // language hits its epoch cap
      val last = out.last
      if (last._3 < 3L * last._2)
        assert(out.map(_._3).sum == budget,
          s"uncapped tail must drain the budget: $out")
    }
  }
}
