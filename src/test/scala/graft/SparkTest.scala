package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared local SparkSession across all suites (startup costs ~10s). */
object SparkTest {
  lazy val session: SparkSession = Session.local(4)
  val sfDir = "/root/testdata/sf0.001"

  /** Jobs started on this thread while `body` runs, counted by a listener.
    * Listener events arrive asynchronously, so a marker job is run after
    * `body` and waited for: events are delivered in order, so every job
    * of `body` has been counted once the marker's start arrives. */
  def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = session.sparkContext
    val group = s"spark-test-${System.nanoTime()}"
    val marker = "spark-test-marker"
    val seen = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          seen.add(Option(e.properties.getProperty("spark.job.description")).getOrElse(""))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "")
    try {
      body
      sc.setJobDescription(marker)
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      require(seen.contains(marker), "marker job never reached the listener")
      seen.size - 1
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

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
