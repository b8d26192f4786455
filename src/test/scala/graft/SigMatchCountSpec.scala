package graft

import graft.functions.SigMatchCount
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native signature-match-count expression: must produce the SAME
  * integer as the aggregate(zip_with(when(x===y,1,0)), acc+x) chain it
  * replaced in the portable near-dup family (the oracle hashes ride on
  * it), stay inside WholeStageCodegen, and keep the chain's null
  * semantics (null array → null; null component → no match). */
class SigMatchCountSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session
  val dir: String = SparkTest.sfDir

  private def hofCount(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x)

  test("native equals the HOF chain on random string arrays with nulls") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (1 to 300).map { _ =>
      def arr = Seq.fill(16)(
        if (rnd.nextInt(20) == 0) null
        else rnd.nextInt(6).toString * 8)
      (arr, arr)
    }
    val got = rows.toDF("a", "b")
      .select(SigMatchCount.sigMatchCount(col("a"), col("b")).as("n"),
        hofCount(col("a"), col("b")).as("h"))
      .collect()
    got.foreach(r => assert(r.getInt(0) == r.getInt(1),
      s"native ${r.getInt(0)} != hof ${r.getInt(1)}"))
  }

  test("native equals the HOF chain on real portable signatures") {
    val sigs = ops.Similarity.portableSigs(
      Tables.documents(spark, dir).select("doc_id", "text").limit(80))
    val a = sigs.select(col("doc_id").as("ai"), col("sig").as("sa"))
    val b = sigs.select(col("doc_id").as("bi"), col("sig").as("sb"))
    val both = a.crossJoin(b).filter(col("ai") < col("bi"))
      .select(SigMatchCount.sigMatchCount(col("sa"), col("sb")).as("n"),
        hofCount(col("sa"), col("sb")).as("h"))
      .collect()
    assert(both.length > 1000)
    both.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("stays inside WholeStageCodegen and is SQL-callable") {
    val s = spark.newSession()
    GraftExtensions.install(s)
    import s.implicits._
    val df = Seq((Seq("aa", "bb", "cc"), Seq("aa", "xx", "cc")))
      .toDF("a", "b")
    df.createOrReplaceTempView("sig_t")
    assert(s.sql("SELECT sig_match_count(a, b) FROM sig_t")
      .head().getInt(0) == 2)
    // a pure scan+projection plan (no exchange): an aggregate upstream
    // would wrap the executed plan in AdaptiveSparkPlanExec, whose
    // collect() does not descend into the adaptive subtree
    val scan = Tables.documents(spark, dir).select("text")
      .select(split(lower(col("text")), "[^a-z]+").as("s"))
      .select(SigMatchCount.sigMatchCount(col("s"), col("s")).as("n"))
      .filter(col("n") >= 0)
    val wsc = scan.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec
          if w.toString.contains("sig_match_count") ||
            w.child.toString.contains("sig_match_count") => w
    }
    assert(wsc.nonEmpty, "sig_match_count fell out of WholeStageCodegen")
  }

  test("null array propagates; mismatched lengths count the overlap only") {
    import spark.implicits._
    val rows = Seq(
      (Some(Seq("a", "b")), Some(Seq("a", "b"))),
      (None, Some(Seq("a", "b"))),
      (Some(Seq("a", "b", "c")), Some(Seq("a", "b"))))
      .toDF("a", "b")
      .select(SigMatchCount.sigMatchCount(col("a"), col("b")).as("n"))
      .collect()
    assert(rows(0).getInt(0) == 2)
    assert(rows(1).isNullAt(0))
    assert(rows(2).getInt(0) == 2)
  }
}
