package graft

import graft.functions.CosineSim
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native cosine expression: codegen and interpreted paths must
  * agree bit-for-bit with each other and with the higher-order-function
  * formulation, and the expression must stay inside WholeStageCodegen
  * (the whole point of writing doGenCode). */
class CosineSimSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session
  val dir: String = SparkTest.sfDir

  private def hofCosine = {
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  test("codegen result equals the higher-order-function reference bit-for-bit") {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val q = emb.filter(col("vec_id") === 0).select(col("e").as("qe"))
    val both = emb.crossJoin(broadcast(q))
      .select(col("vec_id"),
        CosineSim.cosineSim(col("e"), col("qe")).as("native"),
        hofCosine(col("e"), col("qe")).as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)),
        s"vec ${r.getLong(0)}: native ${r.getDouble(1)} != hof ${r.getDouble(2)}")
    }
  }

  test("interpreted eval equals codegen eval") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    val a = ArrayData.toArrayData(Array(1.0, 2.0, 3.0))
    val b = ArrayData.toArrayData(Array(-1.0, 0.5, 2.0))
    val e = functions.CosineSim(
      Literal(a, org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType)),
      Literal(b, org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType)))
    val interpreted = e.eval(null).asInstanceOf[Double]
    val expected = (1.0 * -1.0 + 2.0 * 0.5 + 3.0 * 2.0) /
      (math.sqrt(1 + 4 + 9) * math.sqrt(1 + 0.25 + 4))
    assert(math.abs(interpreted - expected) < 1e-15)
  }

  test("null in either side yields null, not NaN") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq(1.0, 2.0)), Some(Seq(1.0, 2.0))),
      (None, Some(Seq(1.0, 2.0)))).toDF("a", "b")
    val out = df.select(CosineSim.cosineSim(col("a"), col("b"))).collect()
    assert(!out(0).isNullAt(0) && out(1).isNullAt(0))
  }

  test("cosine_sim is callable from SQL after registration") {
    val s = spark.newSession()
    GraftExtensions.install(s)
    val row = s.sql(
      "SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c," +
        " cosine_sim(array(1.0D, 0.0D), array(0.0D, 1.0D)) AS o")
      .collect().head
    assert(math.abs(row.getDouble(0) - 1.0) < 1e-15)
    assert(math.abs(row.getDouble(1)) < 1e-15)
  }

  test("expression stays inside WholeStageCodegen") {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val plan = emb.select(CosineSim.cosineSim(col("e"), col("e")).as("c"))
      .queryExecution.executedPlan.toString
    // '*(n)' prefixes mark operators fused into WholeStageCodegen span n
    assert(plan.linesIterator.exists(l =>
      l.contains("cosine_sim") && l.trim.startsWith("*(")),
      s"cosine_sim not inside a codegen span:\n$plan")
  }
}
