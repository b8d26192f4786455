package graft

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftShims
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Bench's pass function over a scan and q172's streaming drain, and the
  * SPARK_GRAFT_ONLY check both mains make before their session starts. */
class BenchSpec extends AnyFunSuite {
  lazy val spark = SparkTest.session
  private val subset = Seq("q01_scan_project", "q172_streaming_availablenow")

  test("Bench.measure: JSON keys are the selection; each profiled stage has one call; drain jobs carry q172's") {
    // the jobs a streaming query starts on its stream thread, with the
    // stages each lists and the call property each carries
    val drainJobs = new java.util.concurrent.ConcurrentLinkedQueue[(Seq[Int], String)]()
    val spy = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("sql.streaming.queryId") != null))
          drainJobs.add((e.stageIds, e.properties.getProperty(Bench.CallKey)))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(spy)
    val (line, profile) =
      try Bench.measure(spark, SparkTest.sfDir,
        SparkEntry.selected(Some(subset.mkString(","))), runs = 2, chunks = 1, coolS = 0)
      finally {
        GraftShims.awaitListeners(sc)
        sc.removeSparkListener(spy)
      }
    val mapper = new ObjectMapper()
    val out = mapper.readTree(line)
    assert(out.get("queries").fieldNames.asScala.toSet == subset.toSet)
    assert(out.get("failed").isEmpty)
    val p = mapper.readTree(profile)
    assert(p.get("unlabelled_jobs").asInt == 0)
    val calls = p.get("calls").elements.asScala.toSeq
    def call(c: com.fasterxml.jackson.databind.JsonNode) =
      s"${c.get("query").asText}#${c.get("pass").asInt}"
    assert(calls.map(call).sorted == (for (q <- subset; pass <- 1 to 2) yield s"$q#$pass"))
    calls.foreach { c =>
      assert(c.get("ok").asBoolean && c.get("jobs").asInt > 0, call(c))
      assert(c.get("stages").asInt == c.get("stage_rows").size, call(c))
    }
    val owner = calls.flatMap(c =>
      c.get("stage_rows").elements.asScala.map(_.get("id").asInt -> call(c)))
    assert(owner.map(_._1).distinct.size == owner.size,
      "a stage is profiled under more than one call")
    // both passes drain; every drain job and its profiled stages are q172's
    val drains = drainJobs.asScala.toSeq
    assert(drains.map(_._2).toSet ==
      Set("q172_streaming_availablenow#1", "q172_streaming_availablenow#2"))
    val stageCall = owner.toMap
    val drainStages = drains.flatMap { case (ids, c) => ids.flatMap(stageCall.get).map(c -> _) }
    assert(drainStages.nonEmpty && drainStages.forall { case (job, stage) => job == stage },
      s"drain stages profiled under another call: $drainStages")
  }

  test("an undeclared SPARK_GRAFT_ONLY name fails Bench and Verify before a session starts") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.selected(Some("q999,q01_scan_project,q0x")))
    assert(e.getMessage.endsWith("SPARK_GRAFT_ONLY names undeclared queries: q0x, q999"))
    assert(SparkEntry.selected(None).map(_.name) == SparkEntry.queries.keys.toSeq.sorted)
    // each main in a JVM of its own, with only the variable set: it
    // exits with the names, starts no SparkContext (which logs its
    // version at start) and writes no output
    val tmp = Files.createTempDirectory("graft_only")
    val jvm = Seq(Paths.get(sys.props("java.home"), "bin", "java").toString) ++
      java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
        .asScala.filterNot(_.startsWith("-Xmx")) ++
      Seq("-Xmx512m", "-cp", sys.props("java.class.path"))
    try Seq(
      Seq("graft.Bench") -> s"$tmp/bench_out.json",
      Seq("graft.Verify", SparkTest.sfDir, s"$tmp/verify") -> s"$tmp/verify"
    ).foreach { case (main, output) =>
      val pb = new ProcessBuilder((jvm ++ main).asJava).redirectErrorStream(true)
      pb.environment().put("SPARK_GRAFT_ONLY", "q999,q01_scan_project")
      pb.environment().put("SPARK_GRAFT_BENCH_OUT", s"$tmp/bench_out.json")
      val proc = pb.start()
      val log = new String(proc.getInputStream.readAllBytes(), "UTF-8")
      assert(proc.waitFor() != 0, s"${main.head} accepted q999:\n$log")
      assert(log.contains("SPARK_GRAFT_ONLY names undeclared queries: q999"), log)
      assert(!log.contains("Running Spark version"), s"${main.head} started a session:\n$log")
      assert(!Files.exists(Paths.get(output)), s"${main.head} wrote $output")
    } finally FsUtil.deleteRecursively(tmp.toString)
  }
}
