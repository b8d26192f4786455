package graft

import graft.functions.L2Sq
import graft.ops.Clustering
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.scalatest.funsuite.AnyFunSuite

/** The native squared-L2 expression: the codegen path and the interpreted
  * path must agree bit for bit with the driver-side
  * [[Clustering.l2sqLocal]] (driver- and engine-ranked distances are
  * compared in the IVF probes), and with the higher-order-function form
  * it replaced where that form is defined. Pins the edge semantics the
  * docstring states: null elements read as 0.0, ragged arrays use the
  * common prefix, a null array yields null. */
class L2SqSpec extends AnyFunSuite {
  private val vec = ArrayType(DoubleType, containsNull = true)
  private val expr = L2Sq(BoundReference(0, vec, nullable = true),
    BoundReference(1, vec, nullable = true))
  // compiled directly: no interpreted fallback can hide a codegen failure
  private val compiled = GenerateUnsafeProjection.generate(Seq(expr))
  // the row layout the engine hands the expression at run time
  private val toUnsafe = UnsafeProjection.create(Array[DataType](vec, vec))

  private def row(a: Seq[java.lang.Double], b: Seq[java.lang.Double]): InternalRow =
    InternalRow(new GenericArrayData(a.toArray[Any]), new GenericArrayData(b.toArray[Any]))

  /** (interpreted on generic arrays, interpreted on unsafe arrays, codegen). */
  private def evalAll(a: Seq[java.lang.Double], b: Seq[java.lang.Double]): Seq[Any] = {
    val generic = row(a, b)
    val unsafe = toUnsafe(generic)
    val c = compiled(unsafe)
    Seq(expr.eval(generic), expr.eval(unsafe), if (c.isNullAt(0)) null else c.getDouble(0))
  }

  private def bits(d: Any): Long = java.lang.Double.doubleToRawLongBits(d.asInstanceOf[Double])

  private def seeded(rnd: scala.util.Random, n: Int): Seq[java.lang.Double] =
    Seq.fill(n)(java.lang.Double.valueOf(rnd.nextGaussian() * math.pow(10, rnd.nextInt(7) - 3)))

  test("codegen and interpreted paths equal l2sqLocal bit for bit on seeded vectors") {
    val rnd = new scala.util.Random(17L)
    (1 to 200).foreach { i =>
      val n = 1 + rnd.nextInt(64)
      val (a, b) = (seeded(rnd, n), seeded(rnd, n))
      val want = Clustering.l2sqLocal(a.map(_.doubleValue).toArray, b.map(_.doubleValue).toArray)
      evalAll(a, b).foreach(got => assert(bits(got) == bits(want), s"case $i: $got != $want"))
    }
  }

  test("a null element reads as 0.0 in every path") {
    val a = Seq[java.lang.Double](1.0, null, 3.0)
    val b = Seq[java.lang.Double](0.5, 2.0, null)
    // (1 - 0.5)^2 + (0 - 2)^2 + (3 - 0)^2
    val want = Clustering.l2sqLocal(Array(1.0, 0.0, 3.0), Array(0.5, 2.0, 0.0))
    assert(want == 13.25)
    evalAll(a, b).foreach(got => assert(bits(got) == bits(want), s"$got != $want"))
  }

  test("ragged arrays use the common prefix; a null array yields null") {
    val a = Seq[java.lang.Double](1.0, 2.0, 3.0)
    val b = Seq[java.lang.Double](0.0, 0.0)
    evalAll(a, b).foreach(got => assert(got == 5.0))
    val nullRow = InternalRow(new GenericArrayData(a.toArray[Any]), null)
    assert(expr.eval(nullRow) == null)
    assert(compiled(toUnsafe(nullRow)).isNullAt(0))
  }

  test("equals the former higher-order-function form on null-free, equal-length vectors") {
    val spark = SparkTest.session
    import spark.implicits._
    val rnd = new scala.util.Random(23L)
    val rows = (1 to 50).map { _ =>
      val n = 1 + rnd.nextInt(32)
      (seeded(rnd, n).map(_.doubleValue), seeded(rnd, n).map(_.doubleValue))
    }
    val out = rows.toDF("a", "b").select(
      L2Sq.l2Sq(col("a"), col("b")),
      aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)), lit(0.0),
        (acc, v) => acc + v)).collect()
    assert(out.length == rows.size)
    out.foreach(r => assert(bits(r.getDouble(0)) == bits(r.getDouble(1)),
      s"native ${r.getDouble(0)} != hof ${r.getDouble(1)}"))
  }
}
