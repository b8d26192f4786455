package graft
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}

/** Benchmark and profiling main: runs the queries [[SparkEntry.selected]]
  * picks (all declared ones unless SPARK_GRAFT_ONLY names some) against
  * SPARK_GRAFT_SF_DIR, prints one JSON line with per-query seconds, and
  * writes each timed call's profile ([[CallProfile]]) to a sidecar.
  * Queries write to the `noop` sink so every output column is fully
  * evaluated (a bare count() would let Catalyst prune projections and
  * under-measure). */
object Bench {
  /** The local property naming the timed call, `<query>#<pass>`. Bench
    * sets it on its own thread around each call; the threads a call
    * starts inherit it (a drain's stream thread) and Spark's broadcast
    * and subquery pools capture it. */
  val CallKey = "graft.bench.call"

  def main(args: Array[String]): Unit = {
    val selected = SparkEntry.selected()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // JVM/codegen warmup outside the timed region (driver compares
    // totals across engines; first-query startup noise would dominate)
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case NonFatal(e) =>
      System.err.println(s"[bench] warm-up failed: ${e.getMessage}") }
    // BASELINE.md records 5–10× run-to-run variance from host CPU
    // throttling: one multi-minute slow window lands on arbitrary
    // queries and poisons cross-round comparison. Min-of-N (default 2)
    // retires that ambiguity: a query's min over passes is its
    // quiet-host time unless BOTH passes hit the throttle window.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    // CHUNKED mode (r14 verdict item 5 — the sustained-load throttle
    // defeated two rounds of quiet-first benching): split the query
    // list into SPARK_GRAFT_BENCH_CHUNKS groups with
    // SPARK_GRAFT_BENCH_COOLDOWN_S idle seconds between them, so the
    // host's load-triggered throttle can disengage between chunks. A
    // frozen-code SENTINEL (q15, untouched since r4) is timed at the
    // head of every chunk and reported in the JSON — a chunk whose
    // sentinel sits near its golden floor ran unthrottled, so its
    // per-query times are trustworthy absolutes. Defaults (1 chunk, no
    // cooldown) keep the driver's invocation byte-identical.
    val chunks = sys.env.getOrElse("SPARK_GRAFT_BENCH_CHUNKS", "1").toInt
    val coolS = sys.env.getOrElse("SPARK_GRAFT_BENCH_COOLDOWN_S", "60").toInt
    val (line, profile) = measure(spark, sfDir, selected, runs, chunks, coolS)
    println(line)
    // also write the line to a dedicated file: a caller that tail-captures
    // sbt stdout has truncated the (long) JSON mid-line (BENCH_r03
    // parsed: null). SPARK_GRAFT_BENCH_OUT overrides the default path;
    // the profile goes next to it, its name prefixed `profile_`.
    val outPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json"))
    Seq(outPath -> line,
        outPath.resolveSibling(s"profile_${outPath.getFileName}") -> profile)
      .foreach { case (path, text) =>
        try java.nio.file.Files.write(path, (text + "\n").getBytes("UTF-8"))
        catch { case e: Throwable =>
          System.err.println(s"[bench] could not write $path: ${e.getMessage}") }
      }
    spark.stop()
  }

  /** Times every query of `selected` in `runs` passes (per chunk, as
    * [[main]] describes) and returns the one-line JSON [[main]] prints, each
    * query's min over its successful passes, and the profile JSON of
    * every timed call: its query, pass, outcome, wall time, janino
    * compiles and the RDDs [[SparkEntry.releasing]] freed after it
    * (`released_rdds`: what a lazy plan left to the harness), plus
    * what [[CallProfile]] attributed to it. Pass 1 is
    * each query's first timed call; later passes are warm. */
  def measure(spark: SparkSession, sfDir: String, selected: Seq[Declared],
      runs: Int, chunks: Int, coolS: Int): (String, String) = {
    val sc = spark.sparkContext
    // the events of earlier jobs (the warm-up's) must not reach it
    GraftShims.awaitListeners(sc)
    val profile = new CallProfile
    sc.addSparkListener(profile)
    val calls = mutable.ArrayBuffer[(String, Int, Boolean, Double, Long, Int)]()
    def timeOne(query: String, pass: Int,
        fn: (SparkSession, String) => DataFrame): Double = {
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      sc.setLocalProperty(CallKey, s"$query#$pass")
      val ((ok, dt), released) = try SparkEntry.releasing(spark) {
        val t0 = System.nanoTime()
        // a crashed query reports -1, never its (near-zero) elapsed time —
        // a failure must not read as "fast" in the emitted JSON
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $query FAILED: ${e.getMessage}"); false }
        (ok, (System.nanoTime() - t0) / 1e9)
      } finally sc.setLocalProperty(CallKey, null)
      calls += ((query, pass, ok, dt,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0, released))
      if (ok) dt else -1.0
    }
    val groups: Seq[Seq[Declared]] =
      if (chunks <= 1) Seq(selected)
      else selected.grouped(
        math.ceil(selected.size.toDouble / chunks).toInt).toSeq
    val sentinelFn =
      if (chunks > 1) Some(SparkEntry.queries("q15_agg_tpch1")) else None
    val sentinels = mutable.ArrayBuffer[(String, Double)]()
    val results = try groups.zipWithIndex.flatMap { case (g, gi) =>
      if (gi > 0 && chunks > 1 && coolS > 0) Thread.sleep(coolS * 1000L)
      sentinelFn.foreach { fn =>
        sentinels += (s"c$gi" -> timeOne(s"sentinel_c$gi", 1, fn))
      }
      val passes = (1 to runs).map(p => g.map(d => d.name -> timeOne(d.name, p, d.build)))
      // per-query min over successful passes; failed only if EVERY
      // pass failed
      g.map(_.name).map { name =>
        val times = passes.flatMap(_.collectFirst {
          case (`name`, t) if t >= 0 => t
        })
        (name, if (times.isEmpty) -1.0 else times.min)
      }
    } finally {
      GraftShims.awaitListeners(sc)
      sc.removeSparkListener(profile)
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failed = results.filter(_._2 < 0).map(_._1)
    val total = results.map(_._2).filter(_ >= 0).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val sentJson =
      if (sentinels.isEmpty) ""
      else sentinels.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString(""","sentinels":{""", ",", "}")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson$sentJson,"sf":"$sfDir","runs":$runs,"chunks":$chunks}"""
    val callsJson = calls.map { case (query, pass, ok, dt, compiles, released) =>
      s"""{"query":"$query","pass":$pass,"ok":$ok,"wall_s":$dt,"compiles":$compiles,""" +
        s""""released_rdds":$released,${profile.json(s"$query#$pass")}}"""
    }.mkString("[", ",\n", "]")
    (line, s"""{"sf":${Verify.jsonString(sfDir)},"runs":$runs,"chunks":$chunks,""" +
      s""""unlabelled_jobs":${profile.unlabelledJobs},"calls":$callsJson}""")
  }
}

/** One completed stage: its tasks, executor run and CPU time, input and
  * shuffle records, shuffle bytes, bytes spilled (memory plus disk) and
  * GC time. */
private[graft] final case class StageRow(id: Int, name: String, tasks: Int,
    runMs: Long, cpuNs: Long, inRecords: Long, shuffleRead: Long,
    shuffleWritten: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
    spillBytes: Long, gcMs: Long) {
  def json: String =
    s"""{"id":$id,"name":${Verify.jsonString(name)},"tasks":$tasks,""" +
      s""""run_s":${runMs / 1e3},"cpu_s":${cpuNs / 1e9},"in_records":$inRecords,""" +
      s""""shuffle_read_records":$shuffleRead,"shuffle_write_records":$shuffleWritten,""" +
      s""""shuffle_read_bytes":$shuffleReadBytes,"shuffle_write_bytes":$shuffleWriteBytes,""" +
      s""""spill_bytes":$spillBytes,"gc_s":${gcMs / 1e3}}"""
}

/** Attributes each job and completed stage to the Bench call named by
  * the [[Bench.CallKey]] property its job was submitted with; jobs
  * without one are only counted. Events arrive on the listener bus's
  * thread, so readers await the bus first (`GraftShims.awaitListeners`). */
private[graft] class CallProfile extends SparkListener {
  private val jobs = mutable.Map[String, Int]().withDefaultValue(0)
  private val stageCall = mutable.Map[Int, String]()
  private val stages = mutable.Map[String, mutable.ArrayBuffer[StageRow]]()
  private var unlabelled = 0

  private def call(p: java.util.Properties): Option[String] =
    Option(p).flatMap(p => Option(p.getProperty(Bench.CallKey)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    call(e.properties) match {
      case Some(c) => jobs(c) += 1
      case None => unlabelled += 1
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    call(e.properties).foreach(stageCall(e.stageInfo.stageId) = _)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    stageCall.remove(si.stageId).foreach { c =>
      stages.getOrElseUpdate(c, mutable.ArrayBuffer()) += StageRow(si.stageId,
        si.name, si.numTasks, m.executorRunTime, m.executorCpuTime,
        m.inputMetrics.recordsRead, m.shuffleReadMetrics.recordsRead,
        m.shuffleWriteMetrics.recordsWritten, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime)
    }
  }

  def unlabelledJobs: Int = synchronized(unlabelled)

  /** The call's jobs, stages, tasks, executor CPU, shuffle bytes and
    * spill, and its stage rows, as JSON object members. */
  def json(call: String): String = synchronized {
    val rows = stages.getOrElse(call, Nil).toSeq
    s""""cpu_s":${rows.map(_.cpuNs).sum / 1e9},"jobs":${jobs(call)},""" +
      s""""stages":${rows.size},"tasks":${rows.map(_.tasks).sum},""" +
      s""""shuffle_read_bytes":${rows.map(_.shuffleReadBytes).sum},""" +
      s""""shuffle_write_bytes":${rows.map(_.shuffleWriteBytes).sum},""" +
      s""""spill_bytes":${rows.map(_.spillBytes).sum},""" +
      s""""stage_rows":${rows.map(_.json).mkString("[", ",", "]")}"""
  }
}
