package graft

import graft.functions.JaccardSorted
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native Jaccard expression: codegen must agree bit-for-bit with
  * the UDF it replaced on q42's shingle-hash sets, match a driver-side
  * reference on random sets, stay inside WholeStageCodegen, and keep
  * the UDF's null/empty semantics. */
class JaccardSortedSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session
  val dir: String = SparkTest.sfDir

  test("native expression equals the UDF bit-for-bit on real shingle sets") {
    val sets = ops.Similarity.portableHsets(
        Tables.documents(spark, dir).select("doc_id", "text").limit(60))
      .select(col("doc_id"), col("hset").as("s"))
    val a = sets.select(col("doc_id").as("a_id"), col("s").as("sa"))
    val b = sets.select(col("doc_id").as("b_id"), col("s").as("sb"))
    val both = a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .select(
        JaccardSorted.jaccardSorted(col("sa"), col("sb")).as("native"),
        ops.Similarity.jaccardUdf(col("sa"), col("sb")).as("udf"))
      .collect()
    assert(both.length > 1000)
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("matches a driver-side set computation on random sorted sets") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (1 to 200).map { _ =>
      val a = Seq.fill(rnd.nextInt(30) + 1)(rnd.nextInt(40).toLong)
        .distinct.sorted
      val b = Seq.fill(rnd.nextInt(30) + 1)(rnd.nextInt(40).toLong)
        .distinct.sorted
      (a, b)
    }
    val got = rows.toDF("a", "b")
      .select(JaccardSorted.jaccardSorted(col("a"), col("b")))
      .collect().map(_.getDouble(0))
    rows.zip(got).foreach { case ((a, b), g) =>
      val inter = a.toSet.intersect(b.toSet).size
      val expect = inter.toDouble / (a.size + b.size - inter)
      assert(java.lang.Double.doubleToLongBits(g) ==
        java.lang.Double.doubleToLongBits(expect), s"$a vs $b")
    }
  }

  test("stays inside WholeStageCodegen and is SQL-callable") {
    val s = spark.newSession()
    GraftExtensions.install(s)
    import s.implicits._
    val df = Seq((Seq(1L, 2L, 3L), Seq(2L, 3L, 4L))).toDF("a", "b")
    df.createOrReplaceTempView("jacc_t")
    val viaSql = s.sql(
      "SELECT jaccard_sorted(a, b) FROM jacc_t").head().getDouble(0)
    assert(viaSql == 0.5)
    // a LocalRelation plans as LocalTableScan (no codegen stage at
    // all) — assert over a real parquet scan, where falling out of
    // WholeStageCodegen would actually cost something
    val scan = Tables.documents(spark, dir).select("doc_id", "text")
      .select(array_sort(array_distinct(transform(
        split(lower(col("text")), "[^a-z]+"), t => xxhash64(t)))).as("s"))
      .select(JaccardSorted.jaccardSorted(col("s"), col("s")).as("j"))
      .filter(col("j") >= 0.0)
    val wsc = scan.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec
          if w.toString.contains("jaccard_sorted") ||
            w.child.toString.contains("jaccard_sorted") => w
    }
    assert(wsc.nonEmpty, "jaccard_sorted fell out of WholeStageCodegen")
  }

  test("null propagates; empty sets give NaN like the UDF") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq(1L, 2L)), Some(Seq(1L, 2L))),
      (None, Some(Seq(1L, 2L))),
      (Some(Seq.empty[Long]), Some(Seq.empty[Long])))
      .toDF("a", "b")
      .select(JaccardSorted.jaccardSorted(col("a"), col("b")).as("j"))
      .collect()
    assert(df(0).getDouble(0) == 1.0)
    assert(df(1).isNullAt(0))
    assert(df(2).getDouble(0).isNaN)
  }
}
