package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import graft.sink.KVStore

/** The benchmark's KV store, handed to `KVSink.writeBatch`. Executors in
  * local mode share this JVM, so every deserialized copy writes to the one
  * map and the one set of counters in the companion object. */
class CountingStore extends KVStore {
  import CountingStore._
  override def open(): Unit = opens.increment()
  def put(key: String, value: String): Unit = {
    val t0 = System.nanoTime()
    val prev = data.put(key, value)
    putNanos.add(System.nanoTime() - t0)
    puts.increment()
    // inputs are ASCII, so characters are bytes
    putBytes.add(key.length + value.length)
    if (value == prev) unchanged.increment()
  }
}

object CountingStore {
  val data = new ConcurrentHashMap[String, String]()
  val puts, putBytes, putNanos, opens, unchanged = new LongAdder

  /** Sets the store's contents (outside any timed region). */
  def reset(contents: Iterable[(String, String)]): Unit = {
    data.clear()
    contents.foreach { case (k, v) => data.put(k, v) }
  }

  def counters: Map[String, Long] = Map("puts" -> puts.sum, "put_bytes" -> putBytes.sum,
    "put_ns" -> putNanos.sum, "opens" -> opens.sum, "unchanged" -> unchanged.sum)
}
