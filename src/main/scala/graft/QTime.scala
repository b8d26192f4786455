package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Time a single declared query with per-stage CPU metrics (dev tool):
  * runMain graft.QTime <name> [sfDir]. Wall-clock on this host is
  * throttle-noisy; executor CPU time is the workload truth. */
object QTime {
  // Read by the async listener-bus thread while main writes it, hence volatile.
  // Caveat (documented, dev tool): the bus is async, so a warmup stage event
  // still queued when quiet flips back to false may leak into timed output.
  @volatile private var quiet = false

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val fn = SparkEntry.queries(name)
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        if (quiet) return
        val si = sc.stageInfo
        val m = si.taskMetrics
        println(f"STAGE ${si.stageId}%3d ${si.name.take(60)}%-60s " +
          f"tasks=${si.numTasks}%4d run=${m.executorRunTime / 1000.0}%8.1fs " +
          f"cpu=${m.executorCpuTime / 1e9}%8.1fs " +
          f"in=${m.inputMetrics.recordsRead}%8d " +
          f"sr=${m.shuffleReadMetrics.recordsRead}%8d " +
          f"sw=${m.shuffleWriteMetrics.recordsWritten}%8d " +
          f"gc=${m.jvmGCTime / 1000.0}%6.1fs")
      }
    })
    // QTIME_WARMUP=1: run once un-timed first (and quiet the stage
    // listener), so the timed pass sees the codegen/footer/JIT caches a
    // Bench min-of-2 second pass sees — the steady state the bench
    // minima actually record
    if (sys.env.get("QTIME_WARMUP").contains("1")) {
      quiet = true
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      quiet = false
    }
    val t0 = System.nanoTime()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    println(f"QTIME $name ${(System.nanoTime() - t0) / 1e9}%.2f s total")
    spark.stop()
  }
}
