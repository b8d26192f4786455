package graft

import graft.pipeline.MoviePipeline
import graft.sink.{InMemoryKVStore, KVSink}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The KV sink (the reference's Redis surface, R13), fed by the movie
  * pipeline's (key, value) output. */
class KVSinkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session
  import spark.implicits._

  test("batch: pipeline output lands in the KV store under customer: keys") {
    InMemoryKVStore.data.clear()
    val events = Seq(
      ("c1", "m1", "A", 2010, 5, "2024-01-01"),
      ("c1", "m1", "A2", 2010, 4, "2024-02-01"),
      ("c2", "m2", "B", 2011, 3, "2024-01-05"))
      .toDF("customerId", "movieId", "title", "yearOfRelease", "rating", "date")
    val kv = MoviePipeline.toKv(
      MoviePipeline.regroupCustomers(MoviePipeline.dedupLatest(events)))
    KVSink.writeBatch(kv, new InMemoryKVStore)
    assert(InMemoryKVStore.data.size() == 2)
    val c1 = InMemoryKVStore.data.get("customer:c1")
    assert(c1 != null && c1.contains(""""title":"A2"""") && !c1.contains(""""title":"A""""))
    assert(InMemoryKVStore.data.get("customer:c2").contains(""""movieId":"m2""""))
  }
}
