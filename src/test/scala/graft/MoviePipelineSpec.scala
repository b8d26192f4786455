package graft

import graft.pipeline.MoviePipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden-semantics tests for SURVEY.md §2.2 quirks (g1–g6, FIXTURES.md §1). */
class MoviePipelineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session
  import spark.implicits._

  private def movies(lines: String*): DataFrame =
    spark.read.schema(MoviePipeline.inputSchema).json(lines.toDS)

  private def events(rows: (String, String, String, Int, Int, String)*): DataFrame =
    rows.toDF("customerId", "movieId", "title", "yearOfRelease", "rating", "date")
      .select("customerId", "movieId", "title", "yearOfRelease", "rating", "date")

  test("g7: malformed lines land in the corrupt column, good lines parse") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_jsonl")
    java.nio.file.Files.writeString(tmp.resolve("part.json"),
      """{"movieId":"m1","title":"T","yearOfRelease":2020,"watchedBy":[{"customer-id":"c1","rating":5,"date":"2024-01-01"}]}
        |this line is not json at all
        |{"movieId":"m2","title":"U","yearOfRelease":2021,"watchedBy":[]}
        |""".stripMargin)
    val df = MoviePipeline.readMoviesWithCorrupt(spark, tmp.toString).cache()
    try {
      assert(df.filter(col("_corrupt_record").isNotNull).count() == 1)
      val good = df.filter(col("_corrupt_record").isNull)
      assert(good.count() == 2)
      assert(good.select("movieId").collect().map(_.getString(0)).sorted
        .toSeq == Seq("m1", "m2"))
    } finally df.unpersist()
  }

  private def mixedCorpusDir(): java.nio.file.Path = {
    // one healthy shard + one unreadable one (gzip magic, garbage body:
    // codec inference accepts it, decompression fails mid-scan)
    val tmp = java.nio.file.Files.createTempDirectory("graft_r11")
    java.nio.file.Files.writeString(tmp.resolve("good.json"),
      """{"movieId":"m1","title":"T","yearOfRelease":2020,"watchedBy":[{"customer-id":"c1","rating":5,"date":"2024-01-01"}]}
        |{"movieId":"m2","title":"U","yearOfRelease":2021,"watchedBy":[]}
        |""".stripMargin)
    java.nio.file.Files.write(tmp.resolve("bad.json.gz"),
      Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0, 0,
        42, 77, 13, 99, 11, 17, 19, 23))
    tmp
  }

  test("R11 fidelity: drop-and-continue skips the unreadable file wholesale") {
    val tmp = mixedCorpusDir()
    val rows = MoviePipeline.readMoviesFidelity(spark, tmp.toString,
      dropCorruptFiles = true).collect()
    // the reference's exact semantics after 3 failed retries: the bad
    // file vanishes, every healthy file still lands
    assert(rows.length == 2)
    assert(rows.map(_.getString(0)).sorted.toSeq == Seq("m1", "m2"))
  }

  test("R11 default: a persistently unreadable file fails the job loudly") {
    val tmp = mixedCorpusDir()
    val ex = intercept[org.apache.spark.SparkException] {
      MoviePipeline.readMoviesFidelity(spark, tmp.toString,
        dropCorruptFiles = false).collect()
    }
    // the failure names the file — operators must see WHICH shard died
    assert(ex.getMessage.contains("bad.json.gz") ||
      Option(ex.getCause).exists(_.getMessage.contains("bad.json.gz")))
  }

  test("g1: parent movieId wins over nested movie-id") {
    val df = MoviePipeline.explodeEvents(movies(
      """{"movieId":"m1","title":"Inception","yearOfRelease":2010,
        |"watchedBy":[{"customer-id":"c1","movie-id":"IGNORED","rating":5,"date":"2024-01-15"}]}"""
        .stripMargin.replace("\n", "")))
    val row = df.collect().head
    assert(row.getAs[String]("movieId") == "m1")
    assert(row.getAs[String]("customerId") == "c1")
  }

  test("g2: most-recent date wins within a snapshot") {
    val deduped = MoviePipeline.dedupLatest(events(
      ("c1", "m1", "T", 2010, 3, "2024-01-10"),
      ("c1", "m1", "T", 2010, 5, "2024-02-01")))
    val row = deduped.collect()
    assert(row.length == 1 && row.head.getAs[String]("date") == "2024-02-01")
  }

  test("g3: equal dates -> existing wins") {
    val merged = MoviePipeline.mergeState(
      existing = events(("c1", "m1", "EXISTING", 2010, 3, "2024-01-10")),
      incoming = events(("c1", "m1", "NEW", 2010, 5, "2024-01-10")))
    val row = merged.collect()
    assert(row.length == 1 && row.head.getAs[String]("title") == "EXISTING")
  }

  test("g4: unparseable incoming date -> existing wins; unparseable existing also wins") {
    val m1 = MoviePipeline.mergeState(
      existing = events(("c1", "m1", "EXISTING", 2010, 3, "2024-01-10")),
      incoming = events(("c1", "m1", "NEW", 2010, 5, "not-a-date")))
    assert(m1.collect().head.getAs[String]("title") == "EXISTING")
    // reference parses BOTH dates; existing unparseable also throws -> existing kept
    val m2 = MoviePipeline.mergeState(
      existing = events(("c1", "m1", "EXISTING", 2010, 3, "garbage")),
      incoming = events(("c1", "m1", "NEW", 2010, 5, "2024-01-10")))
    assert(m2.collect().head.getAs[String]("title") == "EXISTING")
  }

  test("g5: new-customer asymmetry — fidelity keeps dups, default dedups") {
    val existing = events(("c0", "m0", "S", 2000, 1, "2024-01-01"))
    val incoming = events(
      ("c9", "m1", "A", 2010, 3, "2024-01-10"),
      ("c9", "m1", "A", 2010, 5, "2024-02-01"))
    val fid = MoviePipeline.mergeState(existing, incoming, fidelity = true)
    assert(fid.filter($"customerId" === "c9").count() == 2) // dups survive (DTS:190-195)
    val sym = MoviePipeline.mergeState(existing, incoming)
    val rows = sym.filter($"customerId" === "c9").collect()
    assert(rows.length == 1 && rows.head.getAs[Int]("rating") == 5)
  }

  test("g6: empty watchedBy contributes nothing") {
    val df = MoviePipeline.explodeEvents(movies(
      """{"movieId":"m1","title":"T","yearOfRelease":2010,"watchedBy":[]}"""))
    assert(df.count() == 0)
  }

  test("end-to-end: regroup + KV serialization shape") {
    val kv = MoviePipeline.toKv(MoviePipeline.regroupCustomers(events(
      ("c1", "m2", "B", 2011, 4, "2024-01-02"),
      ("c1", "m1", "A", 2010, 5, "2024-01-01"))))
    val row = kv.collect().head
    assert(row.getAs[String]("key") == "customer:c1")
    val v = row.getAs[String]("value")
    // sorted movie list => m1 before m2, deterministic
    assert(v.contains(""""customerId":"c1""""))
    assert(v.indexOf(""""movieId":"m1"""") < v.indexOf(""""movieId":"m2""""))
  }

  test("run with state emits exactly the batch's customers, each with its full-merge value") {
    // c1 is in the state and the batch: m1 is replaced (incoming strictly
    // later), m2 keeps the state's row (incoming older), m3 is untouched.
    // c2 is only in the state; c9 is new, with a duplicate (c9, m1) pair.
    val tmp = java.nio.file.Files.createTempDirectory("graft_run")
    java.nio.file.Files.writeString(tmp.resolve("batch.json"),
      """{"movieId":"m1","title":"A","yearOfRelease":2010,"watchedBy":[{"customer-id":"c1","movie-id":"m1","rating":5,"date":"2024-03-01"},{"customer-id":"c9","movie-id":"m1","rating":4,"date":"2024-01-10"},{"customer-id":"c9","movie-id":"m1","rating":2,"date":"2024-02-10"}]}
        |{"movieId":"m2","title":"B","yearOfRelease":2011,"watchedBy":[{"customer-id":"c1","movie-id":"m2","rating":1,"date":"2023-01-01"}]}
        |""".stripMargin)
    val state = events(
      ("c1", "m1", "A", 2010, 3, "2024-01-01"),
      ("c1", "m2", "B", 2011, 3, "2023-06-01"),
      ("c1", "m3", "C", 2012, 4, "2022-05-05"),
      ("c2", "m1", "A", 2010, 2, "2021-01-01"))
    def movie(m: String, t: String, y: Int, r: Int, d: String) =
      s"""{"movieId":"$m","title":"$t","yearOfRelease":$y,"rating":$r,"date":"$d"}"""
    def value(c: String, ms: String*) =
      s"""{"customerId":"$c","watchedMovies":[${ms.mkString(",")}]}"""
    val c1 = value("c1", movie("m1", "A", 2010, 5, "2024-03-01"),
      movie("m2", "B", 2011, 3, "2023-06-01"), movie("m3", "C", 2012, 4, "2022-05-05"))
    val c9 = Map(
      false -> value("c9", movie("m1", "A", 2010, 2, "2024-02-10")),
      // fidelity: a customer absent from the state keeps every raw row (g5)
      true -> value("c9", movie("m1", "A", 2010, 2, "2024-02-10"),
        movie("m1", "A", 2010, 4, "2024-01-10")))
    def kv(df: DataFrame): Map[String, String] =
      df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    Seq(false, true).foreach { fidelity =>
      val out = kv(MoviePipeline.run(spark, tmp.toString, Some(state), fidelity))
      val batch = MoviePipeline.explodeEvents(MoviePipeline.readMovies(spark, tmp.toString))
      val full = kv(MoviePipeline.toKv(MoviePipeline.regroupCustomers(
        MoviePipeline.mergeState(state, batch, fidelity))))
      val ctx = s"fidelity=$fidelity"
      // c2's value cannot change, so it is not emitted
      assert(full.contains("customer:c2"), ctx)
      assert(out.keySet == Set("customer:c1", "customer:c9"), ctx)
      assert(out("customer:c1") == full("customer:c1"), ctx)
      assert(out("customer:c9") == full("customer:c9"), ctx)
      assert(out("customer:c1") == c1, ctx)
      assert(out("customer:c9") == c9(fidelity), ctx)
    }
  }

  test("merge is idempotent: merge(merge(s,x),x) == merge(s,x)") {
    val s = events(("c1", "m1", "S", 2010, 3, "2024-01-10"))
    val x = events(("c1", "m1", "X", 2010, 5, "2024-02-01"),
                   ("c2", "m2", "Y", 2011, 2, "2024-01-05"))
    val once = MoviePipeline.mergeState(s, x)
    val twice = MoviePipeline.mergeState(once, x)
    val a = once.orderBy("customerId", "movieId").collect().toSeq
    val b = twice.orderBy("customerId", "movieId").collect().toSeq
    assert(a == b)
  }
}
