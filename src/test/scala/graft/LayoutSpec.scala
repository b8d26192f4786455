package graft

import graft.ops.LayoutOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The Morton layout key: correctness against a bit-by-bit reference
  * and its locality law. */
class LayoutSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session

  private def refMorton(a: Long, b: Long): Long = {
    var z = 0L
    var i = 0
    while (i < 32) {
      z |= ((a >> i) & 1L) << (2 * i)
      z |= ((b >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  test("zorderKey matches a per-bit reference interleave") {
    import spark.implicits._
    val samples = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 65535L),
      (12345L, 54321L), (0xFFFFFFFFL, 0L), (0L, 0xFFFFFFFFL),
      (0xDEADBEEFL, 0xCAFEBABEL))
    val got = samples.toDF("a", "b")
      .select(LayoutOps.zorderKey(col("a"), col("b"))).collect()
      .map(_.getLong(0)).toSeq
    assert(got == samples.map { case (a, b) => refMorton(a, b) })
  }

  test("zorderKey makes aligned squares contiguous key ranges") {
    // every 4x4-aligned square of (a, b) space must map to one
    // contiguous run of 16 Morton keys
    for (a0 <- Seq(0L, 4L, 16L); b0 <- Seq(0L, 8L, 12L)) {
      val keys = for (a <- a0 until a0 + 4; b <- b0 until b0 + 4)
        yield refMorton(a, b)
      assert(keys.max - keys.min == 15, s"square at ($a0,$b0)")
    }
  }
}
