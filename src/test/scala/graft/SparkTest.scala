package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared local SparkSession across all suites (startup costs ~10s). */
object SparkTest {
  lazy val session: SparkSession = Session.local(4)
  val sfDir = "/root/testdata/sf0.001"

  /** Stage each frame as ONE parquet file under `dir/f<i>` with strictly
    * increasing mtimes (1 s apart), so a maxFilesPerTrigger=1 file
    * stream over `dir` yields one DETERMINISTIC trigger per frame, in
    * order (the file source orders by modification time). */
  def stageTriggerFiles(dir: String, frames: Seq[DataFrame]): Unit =
    frames.zipWithIndex.foreach { case (f, i) =>
      f.coalesce(1).write.parquet(s"$dir/f$i")
      val walked = java.nio.file.Files.walk(
        java.nio.file.Paths.get(s"$dir/f$i"))
      try walked.forEach(p => java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime
          .fromMillis(1700000000000L + i * 1000L)))
      finally walked.close()
    }

  /** Write `state` as a bucketed, sort-within-buckets table, so a join on
    * all of `keys` reads it without shuffling its side: only the other
    * side is exchanged into the bucketing. The bucket keys must be ALL
    * of the join keys (`spark.sql.requireAllClusterKeysForCoPartition`
    * defaults to true since 3.3: a subset-keyed layout only helps
    * aggregations and broadcast-regime scans, measured on the q153 band
    * store). */
  def writeBucketedState(state: DataFrame, table: String, path: String,
      keys: Seq[String], nBuckets: Int = 8): Unit =
    state.write.mode("overwrite")
      .bucketBy(nBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .option("path", path)
      .saveAsTable(table)
}
