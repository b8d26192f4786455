package graft.sink

import org.apache.spark.sql.{DataFrame, ForeachWriter, Row}
import java.util.concurrent.ConcurrentHashMap

/** A key-value store the engine can sink to — the reference's Redis SET
  * surface (DataTransformationService.java:187–188 writes JSON strings
  * under "customer:"+id via RedisTemplate; RedisConfig.java:27–28 pins
  * string serializers). Implementations must be serializable: one
  * instance is shipped to each executor, and `open` is called once per
  * partition — exactly where a real client would create its connection.
  */
trait KVStore extends Serializable {
  def open(): Unit = ()
  def put(key: String, value: String): Unit
  def close(): Unit = ()
}

/** In-memory KVStore for tests (JVM-local — works under local[*] where
  * executors share the driver JVM; a network-backed store is a drop-in
  * replacement). */
class InMemoryKVStore extends KVStore {
  def put(key: String, value: String): Unit = InMemoryKVStore.data.put(key, value)
}

object InMemoryKVStore {
  val data = new ConcurrentHashMap[String, String]()
}

/** Streaming/batch KV sink: rows of (key: String, value: String) →
  * `store.put`. Unlike the reference's per-customer GET+SET round-trips
  * on the driver thread (:176–195), writes happen on executors, one
  * connection per partition, in parallel. The merge itself lives
  * upstream in the plan (MoviePipeline.run reads the state snapshot, not
  * the store), so the sink needs no read-modify-write atomicity. It is an
  * overlay writer, not a full rewrite: `MoviePipeline.run` emits only the
  * batch's customers, each with its full merged value, and relies on the
  * store already holding every other customer's value — the reference's
  * write set.
  */
class KVForeachWriter(store: KVStore, keyCol: String = "key",
    valueCol: String = "value") extends ForeachWriter[Row] {
  override def open(partitionId: Long, epochId: Long): Boolean = {
    store.open(); true
  }
  override def process(row: Row): Unit =
    store.put(row.getAs[String](keyCol), row.getAs[String](valueCol))
  override def close(errorOrNull: Throwable): Unit = store.close()
}

object KVSink {
  /** Batch write of a (key, value) DataFrame into a KVStore (executors
    * write their partitions concurrently; no driver round-trips). */
  def writeBatch(df: DataFrame, store: KVStore,
      keyCol: String = "key", valueCol: String = "value"): Unit = {
    val k = keyCol; val v = valueCol
    df.foreachPartition { (it: Iterator[Row]) =>
      store.open()
      try it.foreach(r => store.put(r.getAs[String](k), r.getAs[String](v)))
      finally store.close()
    }
  }

  /** Streaming write via `foreachBatch`: each micro-batch goes through
    * the batch path above, so the sink logic is written ONCE and reused
    * in both modes (the foreachBatch route is also where idempotent /
    * transactional upserts keyed on (key, batchId) would live — the
    * ForeachWriter path cannot see batch boundaries). Usage:
    * `df.writeStream.foreachBatch(KVSink.foreachBatchWriter(store))`. */
  def foreachBatchWriter(store: KVStore, keyCol: String = "key",
      valueCol: String = "value"): (DataFrame, Long) => Unit =
    (batch, _) => writeBatch(batch, store, keyCol, valueCol)
}
