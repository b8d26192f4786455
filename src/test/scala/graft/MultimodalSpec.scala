package graft

import graft.ops.MultimodalOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{BinaryType, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The multimodal plumbing: binary column + metadata struct schema, and
  * the mapPartitions stub decoder agreeing with the q40 column
  * arithmetic (they must stay behavior-identical). */
class MultimodalSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session
  val dir: String = SparkTest.sfDir

  test("media table: bytes is BinaryType with typed metadata struct") {
    val schema = MultimodalOps.mediaTable(spark, dir).schema
    assert(schema("bytes").dataType == BinaryType)
    val meta = schema("meta").dataType.asInstanceOf[StructType]
    assert(meta.fieldNames.toSeq == Seq("mime", "byte_len", "origin"))
  }

  test("readMediaDir: binaryFile ingestion roundtrips bytes, glob prunes at listing") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_media")
    val sub = java.nio.file.Files.createDirectory(tmp.resolve("shard0"))
    val payload = Array[Byte](0x47, 0x49, 0x46, 0x38, 0x39, 0x61, -1, 0)
    java.nio.file.Files.write(sub.resolve("a.bin"), payload)
    java.nio.file.Files.write(tmp.resolve("b.bin"), Array[Byte](1, 2, 3))
    java.nio.file.Files.write(tmp.resolve("skip.txt"), Array[Byte](9))
    val df = graft.ops.MultimodalOps.readMediaDir(spark, tmp.toString, "*.bin")
    val rows = df.collect()
    assert(rows.length == 2, "glob must drop skip.txt; recursion finds shard0")
    val byName = rows.map(r =>
      r.getStruct(2).getString(2) -> r.getAs[Array[Byte]]("bytes")).toMap
    assert(byName("a.bin").sameElements(payload), "bytes roundtrip exactly")
    assert(byName("b.bin").length == 3)
    rows.foreach { r =>
      assert(r.getStruct(2).getLong(1) == r.getAs[Array[Byte]]("bytes").length,
        "meta.byte_len matches payload")
    }
    // mediaTable-shape compatibility: the stubs accept the frame as-is
    assert(graft.ops.MultimodalOps.resizeStub(df, 4).count() == 2)
  }

  test("resizeStub: every payload hits the byte budget, metadata follows") {
    val media = MultimodalOps.mediaTable(spark, dir)
    val out = MultimodalOps.resizeStub(media, 256).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Array[Byte]]("bytes").length == 256)
      assert(r.getStruct(2).getLong(1) == 256L)
    }
  }

  test("featureExtractStub: fixed-dim vectors that feed the similarity ops") {
    val media = MultimodalOps.mediaTable(spark, dir)
    val feats = MultimodalOps.featureExtractStub(media, 16)
    val schema = feats.schema
    assert(schema("embedding").dataType.typeName == "array")
    val rows = feats.collect()
    assert(rows.forall(_.getSeq[Float](1).length == 16))
    // deterministic across evaluations
    val again = MultimodalOps.featureExtractStub(media, 16).collect()
    assert(rows.map(r => (r.getLong(0), r.getSeq[Float](1))).toMap
      == again.map(r => (r.getLong(0), r.getSeq[Float](1))).toMap)
    // composes with the cosine expression downstream of extraction
    import org.apache.spark.sql.functions.col
    val e = col("embedding").cast("array<double>")
    val sims = feats.limit(5)
      .select(graft.functions.CosineSim.cosineSim(e, e).as("self"))
      .collect().map(_.getDouble(0))
    assert(sims.forall(s => math.abs(s - 1.0) < 1e-9))
  }

  test("decodeStub matches q40 column arithmetic row-for-row") {
    val decoded = MultimodalOps.decodeStub(MultimodalOps.mediaTable(spark, dir))
      .collect().map(d => d.media_id ->
        (d.byte_len, d.width, d.height, d.n_frames, d.sampled_frames.length)).toMap
    val q40 = MultimodalOps.q40Multimodal(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5))).toMap
    assert(decoded.keySet == q40.keySet)
    decoded.foreach { case (id, d) => assert(d == q40(id), s"media $id: $d vs ${q40(id)}") }
  }

  test("frameSample: stride sampling") {
    assert(MultimodalOps.frameSample(1, 4) == Seq(0))
    assert(MultimodalOps.frameSample(9, 4) == Seq(0, 4, 8))
    assert(MultimodalOps.frameSample(8, 4) == Seq(0, 4))
  }
}
