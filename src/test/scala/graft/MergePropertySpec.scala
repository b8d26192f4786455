package graft

import graft.pipeline.MoviePipeline
import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based checks of the merge/dedup semantics (SURVEY.md §5.2):
  * generated event sets must satisfy the algebraic laws the reference's
  * imperative merge only satisfies accidentally. Cases are drawn from
  * scalacheck generators with a fixed seed (the scalatest/scalacheck
  * bridge artifact isn't in the offline cache, so sampling is explicit);
  * sizes and counts stay small because each case runs Spark jobs. */
class MergePropertySpec extends AnyFunSuite {
  lazy val spark = SparkTest.session
  import spark.implicits._

  private val genEvent: Gen[(String, String, String, Int, Int, String)] = for {
    c <- Gen.oneOf("c1", "c2", "c3")
    m <- Gen.oneOf("m1", "m2")
    t <- Gen.oneOf("ta", "tb", "tc", "td")
    r <- Gen.choose(1, 5)
    d <- Gen.oneOf("2024-01-01", "2024-01-02", "2024-02-01", "not-a-date")
  } yield (c, m, t, 2010, r, d)

  private val genEvents: Gen[List[(String, String, String, Int, Int, String)]] =
    Gen.nonEmptyListOf(genEvent)

  private def samples(n: Int, seed: Long): Seq[List[(String, String, String, Int, Int, String)]] =
    (0 until n).map { i =>
      genEvents(Gen.Parameters.default.withSize(8), Seed(seed + i))
        .getOrElse(List(("c1", "m1", "ta", 2010, 3, "2024-01-01")))
    }

  private def df(rows: List[(String, String, String, Int, Int, String)]): DataFrame =
    rows.toDF("customerId", "movieId", "title", "yearOfRelease", "rating", "date")

  private def canon(d: DataFrame): Seq[String] =
    d.collect().map(_.mkString("|")).toSeq.sorted

  test("dedup yields unique (customerId, movieId) and only input rows") {
    samples(5, 100L).foreach { rows =>
      val out = MoviePipeline.dedupLatest(df(rows)).collect()
      val keys = out.map(r => (r.getString(0), r.getString(1)))
      assert(keys.distinct.length == keys.length, s"dup keys for input $rows")
      val inSet = rows.map(t => t.productIterator.mkString("|")).toSet
      out.foreach(r => assert(inSet.contains(r.mkString("|")),
        s"fabricated row ${r.mkString("|")}"))
    }
  }

  test("merge is idempotent: merge(merge(s,x),x) == merge(s,x)") {
    samples(3, 200L).zip(samples(3, 300L)).foreach { case (s, x) =>
      val once = MoviePipeline.mergeState(df(s), df(x))
      assert(canon(MoviePipeline.mergeState(once, df(x))) == canon(once),
        s"not idempotent for s=$s x=$x")
    }
  }

  /** Writes events as JSONL movie records, one record per event, so the
    * exploded batch is exactly `rows`. */
  private def jsonl(rows: List[(String, String, String, Int, Int, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_merge_prop")
    val lines = rows.map { case (c, m, t, y, r, d) =>
      s"""{"movieId":"$m","title":"$t","yearOfRelease":$y,""" +
        s""""watchedBy":[{"customer-id":"$c","movie-id":"$m","rating":$r,"date":"$d"}]}"""
    }
    java.nio.file.Files.writeString(dir.resolve("batch.json"), lines.mkString("", "\n", "\n"))
    dir.toString
  }

  private def kv(d: DataFrame): Map[String, String] =
    d.collect().map(r => r.getString(0) -> r.getString(1)).toMap

  test("a store holding the state, overlaid with run's output, equals the full merge") {
    var cut = 0
    samples(4, 500L).zip(samples(4, 600L)).foreach { case (s, x) =>
      val dir = jsonl(x)
      val stored = kv(MoviePipeline.toKv(MoviePipeline.regroupCustomers(
        MoviePipeline.dedupLatest(df(s)))))
      Seq(false, true).foreach { fidelity =>
        val out = kv(MoviePipeline.run(spark, dir, Some(df(s)), fidelity))
        val full = kv(MoviePipeline.toKv(MoviePipeline.regroupCustomers(
          MoviePipeline.mergeState(df(s), df(x), fidelity))))
        assert(stored ++ out == full, s"fidelity=$fidelity s=$s x=$x")
        if (out.size < full.size) cut += 1
      }
    }
    // some cases have customers only in the state, which run leaves out
    assert(cut > 0)
  }

  test("merging a snapshot into itself changes nothing") {
    samples(3, 400L).foreach { rows =>
      val deduped = MoviePipeline.dedupLatest(df(rows))
      assert(canon(MoviePipeline.mergeState(deduped, deduped)) == canon(deduped),
        s"self-merge not a no-op for $rows")
    }
  }
}
