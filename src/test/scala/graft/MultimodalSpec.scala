package graft

import graft.ops.MultimodalOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{BinaryType, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The multimodal plumbing: binary column + metadata struct schema, and
  * q40's column arithmetic agreeing with a per-row reimplementation. */
class MultimodalSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session
  val dir: String = SparkTest.sfDir

  test("media table: bytes is BinaryType with typed metadata struct") {
    val schema = MultimodalOps.mediaTable(spark, dir).schema
    assert(schema("bytes").dataType == BinaryType)
    val meta = schema("meta").dataType.asInstanceOf[StructType]
    assert(meta.fieldNames.toSeq == Seq("mime", "byte_len", "origin"))
  }

  test("q40 matches an independent per-row decode reimplementation") {
    // the decode arithmetic as a Scala function of the payload length:
    // dimensions from byte length, frames sampled at stride 4
    val expected = MultimodalOps.mediaTable(spark, dir)
      .select("media_id", "bytes").collect().map { r =>
        val b = r.getAs[Array[Byte]](1).length.toLong
        val nf = (b % 16 + 1).toInt
        r.getLong(0) -> (b, (b % 512 + 128).toInt, (b * 7 % 512 + 128).toInt,
          nf, (0 until nf by 4).length)
      }.toMap
    val q40 = MultimodalOps.q40Multimodal(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5))).toMap
    assert(expected.keySet == q40.keySet)
    expected.foreach { case (id, d) => assert(d == q40(id), s"media $id: $d vs ${q40(id)}") }
  }
}
