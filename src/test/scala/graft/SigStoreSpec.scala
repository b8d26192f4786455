package graft

import org.scalatest.funsuite.AnyFunSuite

/** q153 store lifecycle. The laws: probing a batch against a stored
  * band table equals the one-pass computation, and two sequential
  * batches through probe+append equal one combined store. */
class SigStoreSpec extends AnyFunSuite {
  lazy val spark = SparkTest.session
  import spark.implicits._

  // word-soup docs with planted near-duplicates (copy = source text +
  // a short suffix, the plantedCorpus shape). Tokens are letter-only
  // (the portable tokenizer strips digits) and per-doc unique, so the
  // ONLY near-dup pairs are the planted ones.
  private def mkDocs(ids: Seq[Long], dupOf: Map[Long, Long]): Seq[(Long, String)] = {
    def let(n: Long) = n.toString.map(c => ('a' + (c - '0')).toChar).mkString
    def baseText(id: Long) =
      (0 until 30).map(i => s"d${let(id)}x${let(i)}").mkString(" ")
    ids.map { id =>
      dupOf.get(id) match {
        case Some(src) => id -> (baseText(src) + " tail")
        case None      => id -> baseText(id)
      }
    }
  }

  private def collectBest(df: org.apache.spark.sql.DataFrame) =
    try df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    finally spark.catalog.clearCache()

  test("probe vs derived store ≡ probe vs materialized store bands") {
    val store = mkDocs(0L until 6L, Map.empty)
    val batch = mkDocs(100L until 106L, Map(100L -> 0L, 103L -> 3L))
    val storeBands = ops.Similarity.sigBands(store.toDF("doc_id", "text"))
      .localCheckpoint(true)
    val viaStore = collectBest(ops.Similarity.dedupVsSigStore(
      batch.toDF("doc_id", "text"), storeBands))
    val viaInline = collectBest(ops.Similarity.dedupVsSigStore(
      batch.toDF("doc_id", "text"),
      ops.Similarity.sigBands(store.toDF("doc_id", "text"))))
    assert(viaStore === viaInline)
    // per-doc-unique vocab → exactly the planted pairs match
    assert(viaStore.map(t => (t._1, t._2)) === Set((100L, 0L), (103L, 3L)))
    assert(viaStore.forall(_._3 >= 0.5))
  }

  test("sequential batches through probe+append ≡ one combined store") {
    // b1 arrives and is appended; b2 carries a copy of a b1 doc —
    // only the merged store can catch it
    val store = mkDocs(0L until 5L, Map.empty)
    val b1 = mkDocs(100L until 104L, Map(101L -> 2L))
    // NB the copy source must be a PLAIN b1 doc (mkDocs derives copy
    // text from baseText(src); 101 is itself a copy whose text isn't
    // its own baseText)
    val b2 = mkDocs(200L until 203L, Map(200L -> 102L, 201L -> 4L))
    val sBands = ops.Similarity.sigBands(store.toDF("doc_id", "text"))
      .localCheckpoint(true)
    val b1Bands = ops.Similarity.sigBands(b1.toDF("doc_id", "text"))
      .localCheckpoint(true)
    val merged = sBands.union(b1Bands)
    val sequential = collectBest(ops.Similarity.dedupVsSigStore(
      b2.toDF("doc_id", "text"), merged))
    val combined = collectBest(ops.Similarity.dedupVsSigStore(
      b2.toDF("doc_id", "text"),
      ops.Similarity.sigBands((store ++ b1).toDF("doc_id", "text"))))
    assert(sequential === combined)
    // the cross-batch duplicate is caught only through the merge
    assert(sequential.exists { case (n, o, _) => n == 200L && o == 102L },
      "b2's copy of a b1 doc must match through the merged store")
  }
}
