package graft

import org.scalatest.funsuite.AnyFunSuite

/** q207 sparse (BM25) index — the Lucene segment shape: df and corpus
  * stats merged on read across segments, query-term literals pushed
  * into the postings scan. */
class SparseIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTest.session
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("q207 segmented index ≡ q190 full-corpus ranking bit-for-bit") {
    val seg = ops.Extended10.q207Bm25Incr(spark, SparkTest.sfDir)
      .collect().map(_.toSeq).toSeq
    spark.catalog.clearCache()
    val full = ops.Extended10.q190Bm25(spark, SparkTest.sfDir)
      .collect().map(_.toSeq).toSeq
    spark.catalog.clearCache()
    assert(seg.nonEmpty && seg == full)
  }

  test("segment append: stored tables ≡ rebuilt single segment; stats merge on read") {
    def let(n: Long) = n.toString.map(c => ('a' + (c - '0')).toChar).mkString
    // shared vocab across docs so df > 1 and ranking is non-trivial;
    // letter-only tokens (the tokenizer strips digits)
    def text(id: Long) =
      (0 until 20).map(i => s"w${let((id * 7 + i) % 13)}").mkString(" ")
    val store = (0L until 10L).map(id => id -> text(id))
    val batch = (100L until 105L).map(id => id -> text(id))
    val dir = java.nio.file.Files.createTempDirectory("graft_sparse").toString
    try {
      // two segments at rest: both segments' postings bucketed by w,
      // and one stats row per segment
      val segments = Seq(store, batch).map(_.toDF("doc_id", "text"))
      SparkTest.writeBucketedState(
        segments.map(ops.Extended10.sparseIndex).reduce(_ union _),
        "sparse_spec_postings", s"$dir/postings", Seq("w"), 4)
      segments.map(ops.Extended10.sparseStats).reduce(_ union _)
        .write.option("path", s"$dir/stats").saveAsTable("sparse_spec_stats")
      spark.catalog.clearCache()
      // merge-on-read is exercised: two segment stats rows
      assert(spark.table("sparse_spec_stats").count() === 2L)
      val all = (store ++ batch).toDF("doc_id", "text")
      val qterms = all.select(col("doc_id"),
          ops.TextOps.tokens(col("text")).as("t"))
        .orderBy("doc_id").limit(3)
        .select(col("doc_id").as("q_id"),
          explode(slice(col("t"), 1, 4)).as("w")).distinct()
        .localCheckpoint(true)
      val viaTables = ops.Extended10.bm25VsIndex(qterms,
          spark.table("sparse_spec_postings"),
          spark.table("sparse_spec_stats"))
        .collect().map(_.toSeq).toSeq
      spark.catalog.clearCache()
      val rebuilt = ops.Extended10.bm25VsIndex(qterms,
          ops.Extended10.sparseIndex(all),
          ops.Extended10.sparseStats(all))
        .collect().map(_.toSeq).toSeq
      spark.catalog.clearCache()
      assert(viaTables.nonEmpty && viaTables == rebuilt)
      // serving shape: the term literals are pushed into the stored
      // postings scan (point lookups, never a vocabulary scan)
      val plan = ops.Extended10.bm25VsIndex(qterms,
        spark.table("sparse_spec_postings"),
        spark.table("sparse_spec_stats"))
        .queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [In(w, "),
        s"expected pushed In(w, …) filter on the postings scan:\n$plan")
    } finally {
      spark.sql("DROP TABLE IF EXISTS sparse_spec_postings")
      spark.sql("DROP TABLE IF EXISTS sparse_spec_stats")
      spark.catalog.clearCache()
    }
  }
}
