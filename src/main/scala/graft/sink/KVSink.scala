package graft.sink

import org.apache.spark.sql.{DataFrame, Row}
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

object KVSink {
  /** Write a (key, value) DataFrame into a KVStore: `store.put` per row
    * on the executors, one connection per partition, in parallel —
    * unlike the reference's per-customer GET+SET round-trips on the
    * driver thread (:176–195). The merge itself lives upstream in the
    * plan (MoviePipeline.run reads the state snapshot, not the store),
    * so the sink needs no read-modify-write atomicity. It is an overlay
    * writer, not a full rewrite: `MoviePipeline.run` emits only the
    * batch's customers, each with its full merged value, and relies on
    * the store already holding every other customer's value — the
    * reference's write set. */
  def writeBatch(df: DataFrame, store: KVStore,
      keyCol: String = "key", valueCol: String = "value"): Unit = {
    val k = keyCol; val v = valueCol
    df.foreachPartition { (it: Iterator[Row]) =>
      store.open()
      try it.foreach(r => store.put(r.getAs[String](k), r.getAs[String](v)))
      finally store.close()
    }
  }
}
