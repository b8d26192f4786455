package graft

/** Dev tool: Bench's exact timing methodology (same Session.local, same
  * warmup, noop sink, min-of-N passes, persist-delta cleanup) over a
  * SUBSET of declared queries — for before/after measurement of a single
  * optimization without paying a full 210-query window. Usage:
  *   runMain graft.QBenchSub q171_bpe_train,q176_lr_distill [sfDir]
  * Env: SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_RUNS (default 3 here — the
  * subset is cheap, buy an extra pass of throttle immunity). NOT a
  * driver surface: the driver's number of record stays graft.Bench. */
object QBenchSub {
  def main(args: Array[String]): Unit = {
    val fns = args(0).split(",").toSeq.map(n => n -> SparkEntry.queries(n))
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    val sc = spark.sparkContext
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // deterministic work proxies next to throttle-noisy wall time:
    // janino compilations (count + ms; the codegen cache makes repeat
    // plans free) and summed executor CPU per pass
    import org.apache.spark.metrics.source.CodegenMetrics
    val cpuNs = new java.util.concurrent.atomic.AtomicLong(0L)
    sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        cpuNs.addAndGet(e.stageInfo.taskMetrics.executorCpuTime)
    })
    def codegenSnap(): (Long, Long) =
      (CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount,
        CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues.sum)
    val results = fns.map { case (name, fn) =>
      val stats = (1 to runs).map { _ =>
        val before = sc.getPersistentRDDs.keySet
        val (cg0, _) = codegenSnap()
        val cpu0 = cpuNs.get()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        val (cg1, _) = codegenSnap()
        spark.catalog.clearCache()
        sc.getPersistentRDDs.foreach { case (id, rdd) =>
          if (!before.contains(id)) rdd.unpersist(blocking = true)
        }
        (dt, cg1 - cg0, (cpuNs.get() - cpu0) / 1e9)
      }
      val times = stats.map(_._1)
      println(f"QSUB $name%-36s min=${times.min}%6.2f s  " +
        times.map(t => f"$t%.2f").mkString("[", " ", "]") +
        f"  codegen/pass=${stats.map(_._2).mkString(",")}" +
        f"  cpu=${stats.map(s => f"${s._3}%.1f").mkString(",")} s")
      (name, times.min)
    }
    println(f"QSUB TOTAL ${results.map(_._2).sum}%.2f s over ${fns.size} queries (min-of-$runs)")
    spark.stop()
  }
}
