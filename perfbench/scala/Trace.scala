package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval: pass, call (query or ETL batch), build (the part of
  * the call that builds the plan), job or stage. */
final case class Span(kind: String, name: String, start: Long, end: Long, parent: String)

/** Codegen counters of the JVM-global generated-class cache. */
object Codegen {
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def compileNanos: Long = CodeGenerator.compileTime
}

/** Per-layer recorder of traced passes. Listeners are registered only
  * while a traced pass runs. Their events arrive asynchronously, so each
  * is filtered to the traced windows by its own timestamp, and `stop`
  * waits for the bus to deliver the window's last job. Spans stay in
  * memory. */
class Trace(spark: SparkSession, slots: Int) extends SparkListener {
  private val sc: SparkContext = spark.sparkContext
  @volatile private var from = Long.MaxValue
  @volatile private var until = Long.MaxValue
  private val closed = mutable.ArrayBuffer[(Long, Long)]()
  private val totals = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  private var peakMem = 0L
  private val jobGroup = mutable.HashMap[Int, String]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val jobStart = mutable.HashMap[Int, Long]()
  private var jobsOpen = 0
  @volatile private var lastEvent = System.currentTimeMillis()
  val spans = mutable.ArrayBuffer[Span]()
  private var codegen0 = (0L, 0L)

  private def inWindow(t: Long) =
    (t >= from && t <= until) || closed.exists(w => t >= w._1 && t <= w._2)
  private def add(k: String, v: Double): Unit = totals(k) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    lastEvent = System.currentTimeMillis()
    if (inWindow(e.time)) {
      jobsOpen += 1
      jobStart(e.jobId) = e.time
      jobGroup(e.jobId) = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      e.stageIds.foreach(stageJob(_) = e.jobId)
      add("sched.jobs", 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    lastEvent = System.currentTimeMillis()
    jobStart.remove(e.jobId).foreach { t0 =>
      jobsOpen -= 1
      spans += Span("job", s"job-${e.jobId}", t0, e.time, jobGroup.getOrElse(e.jobId, ""))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    lastEvent = System.currentTimeMillis()
    val si = e.stageInfo
    stageJob.get(si.stageId).foreach { job =>
      add("sched.stages", 1)
      spans += Span("stage", s"stage-${si.stageId}", si.submissionTime.getOrElse(0L),
        si.completionTime.getOrElse(0L), s"job-$job")
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    lastEvent = System.currentTimeMillis()
    val ti = e.taskInfo
    val m = e.taskMetrics
    if (m != null && inWindow(ti.finishTime)) {
      val in = m.inputMetrics; val sr = m.shuffleReadMetrics; val sw = m.shuffleWriteMetrics
      add("sched.tasks", 1)
      if (in.recordsRead + sr.recordsRead < 1000) add("small_tasks", 1)
      if (in.recordsRead > 0 || in.bytesRead > 0) add("scan.tasks", 1)
      add("scan.rows", in.recordsRead)
      add("scan.bytes", in.bytesRead)
      val run = m.executorRunTime
      val delay = math.max(0L, ti.duration - run - m.executorDeserializeTime -
        m.resultSerializationTime - ti.gettingResultTime)
      add("sched.delay_s", delay / 1e3)
      add("exec.run_s", run / 1e3)
      add("exec.cpu_s", m.executorCpuTime / 1e9)
      add("exec.gc_s", m.jvmGCTime / 1e3)
      add("exec.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      peakMem = math.max(peakMem, m.peakExecutionMemory)
      add("shuffle.write_bytes", sw.bytesWritten)
      add("shuffle.records", sw.recordsWritten)
      add("shuffle.read_bytes", sr.totalBytesRead)
      add("shuffle.fetch_wait_s", sr.fetchWaitTime / 1e3)
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Trace.this.synchronized {
      val ph = qe.tracker.phases
      if (ph.values.exists(p => inWindow(p.startTimeMs))) {
        def sec(n: String) = ph.get(n).map(p => (p.endTimeMs - p.startTimeMs) / 1e3).getOrElse(0.0)
        add("plan.analyze_s", sec(org.apache.spark.sql.catalyst.QueryPlanningTracker.ANALYSIS))
        add("plan.optimize_s", sec(org.apache.spark.sql.catalyst.QueryPlanningTracker.OPTIMIZATION))
        add("plan.physical_s", sec(org.apache.spark.sql.catalyst.QueryPlanningTracker.PLANNING))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  /** Micro-batches of Structured Streaming queries (`ops.StreamingOps`),
    * by the time each trigger started. */
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        lastEvent = System.currentTimeMillis()
        val p = e.progress
        if (inWindow(java.time.Instant.parse(p.timestamp).toEpochMilli)) {
          add("stream.batches", 1)
          p.stateOperators.foreach { op =>
            add("stream.state_rows", op.numRowsTotal)
            add("stream.commit_s", op.commitTimeMs / 1e3)
          }
        }
      }
  }

  def start(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    codegen0 = (Codegen.compiles, Codegen.compileNanos)
    from = System.currentTimeMillis()
  }

  /** Closes the window and waits until the bus has delivered its jobs
    * (outside the timed pass). */
  def stop(): Unit = {
    until = System.currentTimeMillis()
    val codegen1 = (Codegen.compiles, Codegen.compileNanos)
    val deadline = System.currentTimeMillis() + 15000
    def settled = synchronized(jobsOpen == 0) && System.currentTimeMillis() - lastEvent > 500
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(50)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    synchronized {
      add("codegen.compiles", (codegen1._1 - codegen0._1).toDouble)
      add("codegen.compile_s", (codegen1._2 - codegen0._2) / 1e9)
      closed += ((from, until))
      from = Long.MaxValue
      until = Long.MaxValue
    }
  }

  /** Per-pass layer metrics over `passes` traced passes of `wallS` seconds. */
  def metrics(passes: Int, wallS: Double): Map[String, Double] = synchronized {
    val t = totals.toMap.withDefaultValue(0.0)
    val perPass = Seq("scan.rows", "scan.bytes", "scan.tasks", "plan.analyze_s",
      "plan.optimize_s", "plan.physical_s", "codegen.compiles", "codegen.compile_s",
      "sched.jobs", "sched.stages", "sched.tasks", "sched.delay_s", "exec.run_s", "exec.cpu_s",
      "exec.gc_s", "exec.spill_bytes", "shuffle.write_bytes", "shuffle.read_bytes",
      "shuffle.records", "shuffle.fetch_wait_s", "stream.batches", "stream.state_rows",
      "stream.commit_s").map(k => k -> t(k) / passes).toMap
    perPass ++ Map(
      "sched.small_task_frac" -> (if (t("sched.tasks") > 0) t("small_tasks") / t("sched.tasks") else 0.0),
      "exec.idle_frac" -> (1.0 - t("exec.run_s") / (slots * wallS)),
      "exec.peak_mem_bytes" -> peakMem.toDouble,
      "plan.build_s" -> selfSeconds("build") / passes,
      "span.call_self_s" -> selfSeconds("call") / passes)
  }

  /** Time inside spans of `kind` (calls or builds) not covered by any of
    * the call's jobs: driver-side work such as building the query,
    * planning and waiting on the driver. A build that runs a streaming
    * drain keeps the drain's driver-side work. */
  private def selfSeconds(kind: String): Double = {
    val jobs = spans.filter(_.kind == "job")
    spans.filter(_.kind == kind).map { c =>
      val mine = jobs.filter(j => j.parent == c.name || (j.start >= c.start && j.end <= c.end))
        .map(j => (math.max(j.start, c.start), math.min(j.end, c.end)))
        .filter(iv => iv._2 > iv._1).sortBy(_._1)
      var covered = 0L; var cur = (0L, 0L)
      mine.foreach { iv =>
        if (iv._1 > cur._2) { covered += cur._2 - cur._1; cur = iv }
        else cur = (cur._1, math.max(cur._2, iv._2))
      }
      covered += cur._2 - cur._1
      (c.end - c.start - covered) / 1e3
    }.sum
  }
}
