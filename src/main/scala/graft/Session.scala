package graft

import org.apache.spark.sql.SparkSession

/** The one place a local SparkSession is configured. Every main and
  * the shared test session build through [[local]], so each conf is
  * set exactly once. */
object Session {
  /** Size of the JVM-global generated-class cache (static conf; Spark's
    * default is 100 entries). The 210 declared queries produce ~4k
    * distinct codegen sources, so at the default every pass
    * janino-recompiles every stage of every query: q199 re-compiled 154
    * sources on every bench pass, ~3 s of driver time per pass, and
    * post-eviction repeat passes paid ~0.2–0.5 s per query across the
    * whole bench. Scale-independent driver-side sizing: a production
    * driver serving many distinct queries wants the same. */
  private val CodegenCacheEntries = 8192

  /** `local[cpus]` with shuffle partitions = cpus, UTC session time,
    * TIMESTAMP(NANOS) parquet read as BIGINT (normalized by
    * [[Tables.events]]), no UI and WARN logging. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries",
        CodegenCacheEntries.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
