package graft.ops

import graft.{Declared, Tables}
import graft.ops.Out.SortOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q40 — multimodal column plumbing: media as opaque BINARY columns
  * with a typed metadata struct. The container has no image/audio
  * codecs, so the "decode" is deterministic arithmetic on byte length
  * (width, height, frame count, stride-4 frame samples), expressed as
  * codegen'd column arithmetic the DuckDB oracle mirrors. At 100 TB the
  * binary payload stays columnar in parquet and is never shuffled (all
  * derivations are narrow).
  */
object MultimodalOps {

  /** Media table: the driver has no binary fixture (TESTDATA.md), so the
    * bytes are the UTF-8 text — the column TYPE and everything downstream
    * treat it as opaque binary. */
  def mediaTable(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id").as("media_id"),
      col("text").cast("binary").as("bytes"),
      struct(
        lit("application/x-fake").as("mime"),
        octet_length(col("text").cast("binary")).cast("long").as("byte_len"),
        col("source").as("origin")).as("meta"))

  /** q40 — the multimodal pipeline shape, expressed with codegen'd
    * column arithmetic so the DuckDB oracle can mirror it. */
  def q40Multimodal(spark: SparkSession, dir: String): DataFrame =
    mediaTable(spark, dir).select(
      col("media_id"),
      col("meta.byte_len").as("byte_len"),
      (col("meta.byte_len") % 512 + 128).cast("int").as("width"),
      (col("meta.byte_len") * 7 % 512 + 128).cast("int").as("height"),
      (col("meta.byte_len") % 16 + 1).cast("int").as("n_frames"),
      (floor((col("meta.byte_len") % 16 + 1 + 3) / 4)).cast("int").as("n_sampled"))
      .cachedOrderBy("media_id")

  val declared: Seq[Declared] = Seq(
    Declared("q40_multimodal", q40Multimodal, Some(
      """SELECT doc_id AS media_id,
        |  octet_length(encode(text)) AS byte_len,
        |  CAST(octet_length(encode(text)) % 512 + 128 AS INT) AS width,
        |  CAST(octet_length(encode(text)) * 7 % 512 + 128 AS INT) AS height,
        |  CAST(octet_length(encode(text)) % 16 + 1 AS INT) AS n_frames,
        |  CAST(floor((octet_length(encode(text)) % 16 + 1 + 3) / 4) AS INT) AS n_sampled
        |FROM documents ORDER BY media_id""".stripMargin)))
}
