package graft

import graft.pipeline.CorpusPipeline
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The composed corpus-prep pipeline: exact dups collapse, near-dups
  * drop the later doc, the quality gate filters, and the token budget
  * cuts in doc_id priority order. */
class CorpusPipelineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog " * 5

  private def docs = Seq(
    (1L, base, base.length, "en"),
    (2L, base, base.length, "en"), // exact duplicate of 1
    // near-dup of 1: a ONE-token suffix (the q25/q41 planting convention).
    // The repeated base has only ~9 distinct 3-shingles, so a 3-token
    // suffix gave true J ≈ 0.75 — marginal for 4×4 banding (~22% miss
    // odds per hash family; the splitmix family passed it by luck, the
    // md5 family didn't). One token keeps J ≈ 0.9 → band hit ≈ 99%.
    (3L, base + " zz", base.length + 3, "en"),
    (4L, "completely different legal proceedings concerning the estate " * 4,
      248, "en"),
    (5L, "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))", 39, "und")) // junk
    .toDF("doc_id", "text", "n_chars", "lang")

  test("exact and near duplicates drop, junk fails the gate, originals survive") {
    val out = CorpusPipeline.prepare(Pins.forPlan, docs, minQuality = 0.3,
      tokenBudget = 1000000L).collect()
    val ids = out.map(_.getLong(0)).toSeq
    assert(ids == Seq(1L, 4L), s"survivors: $ids")
  }

  test("token budget keeps the doc_id-ordered prefix") {
    val all = CorpusPipeline.prepare(Pins.forPlan, docs, minQuality = -10,
      tokenBudget = 1000000L).collect()
    assert(all.length >= 2)
    val firstTokens = all.head.getLong(3)
    val out = CorpusPipeline.prepare(Pins.forPlan, docs, minQuality = -10,
      tokenBudget = firstTokens).collect()
    assert(out.length == 1 && out.head.getLong(0) == all.head.getLong(0))
    // cum_tokens is monotone and within budget on the full run
    val cums = all.map(_.getLong(5)).toSeq
    assert(cums == cums.sorted)
  }

  test("q46 on testdata returns rows with positive budget accounting") {
    val rows = CorpusPipeline.q46CorpusPrep(spark, SparkTest.sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) > 0 && r.getLong(5) <= 10000L)
    }
  }

  test("q100 epoch audit: three disjoint splits, bins bounded by docs") {
    spark.catalog.clearCache()
    // epoch owns its cache lifecycle: nothing it pins (persists OR
    // localCheckpoint blocks) may outlive the call (VERDICT r4 item 7)
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val raw = CorpusPipeline.q100EpochBuild(spark, SparkTest.sfDir)
      .collect()
    assert(spark.sparkContext.getPersistentRDDs.keySet == pinnedBefore,
      "epoch build must release every RDD it persisted or checkpointed")
    val rows = raw
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.map(_._1).toSeq == Seq("test", "train", "val"))
    val totalDocs = rows.map(_._2).sum
    assert(totalDocs > 0)
    // train dominates the md5 banding
    val bySplit = rows.map(r => r._1 -> r._2).toMap
    assert(bySplit("train") > bySplit("val") &&
      bySplit("train") > bySplit("test"))
    rows.foreach { case (_, nDocs, tokens, nBins, nDirty) =>
      assert(nDirty >= 0)
      if (nDocs > 0) {
        assert(nBins >= 1 && nBins <= nDocs)
        assert(tokens > 0)
        // a bin never holds more than cap + one straddling doc's tokens;
        // conservatively, bins * cap must cover tokens minus one doc
        assert(nBins * 2048L + 2048L >= tokens)
      }
    }
  }

  test("epoch with reliable checkpoints (cluster posture) matches local output") {
    // graft.checkpoint.reliable=true swaps every stage boundary
    // (epoch stages, Lloyd's rounds, star-CC rounds) from
    // localCheckpoint to reliable checkpoint() — the posture a real
    // cluster needs so a stage survives executor loss. Output must be
    // bit-identical to the default path.
    spark.catalog.clearCache()
    val defaultOut = CorpusPipeline.q100EpochBuild(spark, SparkTest.sfDir)
      .collect().toSeq
    spark.catalog.clearCache()
    val ckDir = java.nio.file.Files.createTempDirectory("graft-ck").toString
    spark.sparkContext.setCheckpointDir(ckDir)
    spark.conf.set("graft.checkpoint.reliable", "true")
    try {
      val reliableOut = CorpusPipeline.q100EpochBuild(spark, SparkTest.sfDir)
        .collect().toSeq
      assert(reliableOut == defaultOut)
    } finally {
      spark.conf.unset("graft.checkpoint.reliable")
      spark.catalog.clearCache()
    }
  }
}
