package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.pipeline.MoviePipeline
import graft.sink.KVSink

/** One workload: the calls of a pass, untimed preparation, and the check. */
trait Workload {
  def calls: Seq[String]
  /** Generates inputs; not part of set-up. */
  def prepare(): Unit
  /** Untimed reset before each pass. */
  def beforePass(): Unit = ()
  /** One call into the program; returns the interval (epoch ms) spent in
    * the function that builds the plan. */
  def call(name: String): (Long, Long)
  /** Checks outputs once, after timing; fills `out` and returns
    * (operations checked, failures). */
  def check(out: mutable.Map[String, Any]): (Long, Long)
  /** Exact per-batch ETL counts made through the program's public
    * functions; zero where the ETL is not reached. */
  def counts(): Map[String, Double] = Seq("etl.events_in", "etl.rows_after_dedup",
    "etl.state_rows", "etl.customers_out", "etl.dup_removed_frac").map(_ -> 0.0).toMap
}

/** The movie ETL's steady-state batch: JSONL shards on disk plus the
  * parquet state snapshot → `MoviePipeline.run` → `KVSink.writeBatch`
  * into the counting store, pre-loaded with the state's values. */
class MovieWorkload(spark: SparkSession, work: Path, seed: Long, sizes: MovieSizes)
    extends Workload {
  private val inputDir = work.resolve("movies")
  private val stateDir = work.resolve("state")
  private var preload: Map[String, String] = Map.empty
  private var expected: Map[String, Vector[Event]] = Map.empty
  val calls = Seq("etl")

  def prepare(): Unit = {
    val in = MovieData.generate(seed, sizes)
    MovieData.writeJsonl(in, inputDir, sizes.shards, seed)
    MovieData.writeState(in.state, stateDir)
    preload = MovieData.stateKv(in)
    expected = MovieData.expectedKv(MovieData.expectedRows(in))
  }

  private def state: DataFrame = spark.read.parquet(stateDir.toString)

  override def beforePass(): Unit = CountingStore.reset(preload)

  def call(name: String): (Long, Long) = {
    val t0 = System.currentTimeMillis()
    val kv = MoviePipeline.run(spark, inputDir.toString, Some(state))
    val build = (t0, System.currentTimeMillis())
    KVSink.writeBatch(kv, new CountingStore)
    build
  }

  def check(out: mutable.Map[String, Any]): (Long, Long) = {
    val (n, bad, examples) = MovieData.check(CountingStore.data, expected)
    out("kv_checked") = n
    out("kv_mismatches") = bad
    out("kv_examples") = examples.asJava
    (n, bad)
  }

  override def counts(): Map[String, Double] = {
    val events = MoviePipeline.explodeEvents(MoviePipeline.readMovies(spark, inputDir.toString))
    val in = events.count().toDouble
    val deduped = MoviePipeline.dedupLatest(events).count().toDouble
    val merged = MoviePipeline.mergeState(state, events).count().toDouble
    val customers = MoviePipeline.run(spark, inputDir.toString, Some(state)).count().toDouble
    Map("etl.events_in" -> in, "etl.rows_after_dedup" -> deduped,
      "etl.state_rows" -> merged, "etl.customers_out" -> customers,
      "etl.dup_removed_frac" -> (if (in > 0) 1 - deduped / in else 0.0))
  }
}

/** A list of declared queries over generated tables, each written to the
  * `noop` sink; the check writes each result once as parquet. */
class CatalogWorkload(spark: SparkSession, work: Path, tables: String,
    val calls: Seq[String]) extends Workload {
  private val sc = spark.sparkContext

  def prepare(): Unit = ()

  def call(name: String): (Long, Long) = {
    val before = sc.getPersistentRDDs.keySet
    try {
      val t0 = System.currentTimeMillis()
      val df = SparkEntry.queries(name)(spark, tables)
      val build = (t0, System.currentTimeMillis())
      df.write.format("noop").mode("overwrite").save()
      build
    } finally release(before)
  }

  /** Frees what a query persisted so it does not tax the next one. */
  private def release(before: collection.Set[Int]): Unit = {
    spark.catalog.clearCache()
    sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.contains(id)) rdd.unpersist(blocking = true)
    }
  }

  def check(out: mutable.Map[String, Any]): (Long, Long) = {
    val dir = Files.createDirectories(work.resolve("check"))
    val thrown = mutable.ArrayBuffer[String]()
    calls.foreach { q =>
      val before = sc.getPersistentRDDs.keySet
      try SparkEntry.queries(q)(spark, tables).write.mode("overwrite").parquet(dir.resolve(q).toString)
      catch { case e: Throwable => thrown += s"$q: ${e.getMessage}" }
      finally release(before)
    }
    val oracle = SparkEntry.oracleSql.filter { case (q, _) => calls.contains(q) }
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValue(dir.resolve("oracle_sql.json").toFile, oracle.asJava)
    out("check_thrown") = thrown.asJava
    // the comparison against DuckDB runs after this process and counts the
    // failures, a query that threw here included (it leaves no output)
    (calls.size.toLong, 0L)
  }
}

object Main {
  /** Short declared queries: a scan and projection, the reference ETL's
    * shape over `events` (dedup-latest, KV serialisation), two whose
    * cost is per-task overhead after `Tables.fanout`, and one Structured
    * Streaming drain (`ops.StreamingOps`), which runs inside the
    * `SparkEntry.queries` call. */
  val lightQueries = Seq("q01_scan_project", "q06_dedup_latest", "q09_to_json_kv",
    "q24_dedup_exact", "q130_funnel", "q172_streaming_availablenow")

  /** A 5% batch against the state snapshot. */
  val deltaSizes = MovieSizes(movies = 5000, customers = 12500, incomingEvents = 6250,
    stateEvents = 125000, shards = 8)
  /** Warm-up passes, a fixed number so that set-up does the same work on
    * every run. After the first pass few classes are compiled per pass;
    * the count does not reach 0 on catalog_light, since the streaming
    * drain compiles the same classes anew on every pass. Pass times kept
    * falling until about the 8th pass, as the JIT compiler caught up: with
    * 5 warm-up passes the timed passes of one run fell by up to 25%. */
  val warmupPasses = 8

  private def opt(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def session(slots: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$slots]")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def cpuNanos(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def main(args: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val name = opt(args, "workload")
    val seed = opt(args, "seed").toLong
    val seconds = opt(args, "seconds").toDouble
    val traced = opt(args, "trace") == "1"
    val work = Paths.get(opt(args, "work")).toAbsolutePath
    // two task slots: on a 4-core host, warm passes were as fast as with 3
    // (movie_delta 1.5 s, catalog_light 2.6-2.8 s), and fewer busy threads
    // leave the JIT compiler, GC and driver threads cores of their own
    val slots = math.max(1, math.min(2, Runtime.getRuntime.availableProcessors - 1))
    val spark = session(slots, work)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val out = mutable.LinkedHashMap[String, Any]("workload" -> name, "seed" -> seed,
      "slots" -> slots, "traced" -> traced)
    try {
      val w: Workload = name match {
        case "movie_delta" => new MovieWorkload(spark, work, seed, deltaSizes)
        case "catalog_light" => new CatalogWorkload(spark, work, opt(args, "tables"), lightQueries)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val p0 = System.nanoTime()
      w.prepare()
      out("prepare_s") = (System.nanoTime() - p0) / 1e9
      // the generator's garbage is not the program's
      System.gc()
      run(spark, w, seconds, traced, slots, sessionS, work, out)
      if (traced) out("counts") = w.counts().asJava
      val c0 = System.nanoTime()
      val (checked, bad) = w.check(out)
      out("check_s") = (System.nanoTime() - c0) / 1e9
      out("attempted") = out("attempted").asInstanceOf[Long] + checked
      out("failed") = out("failed").asInstanceOf[Long] + bad
    } finally spark.stop()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    mapper.writeValue(work.resolve("raw.json").toFile, toJava(out))
    // threads the program leaves behind must not keep the process alive
    sys.exit(0)
  }

  private def toJava(m: collection.Map[String, Any]): java.util.Map[String, Any] =
    m.map {
      case (k, v: collection.Map[_, _]) => k -> toJava(v.asInstanceOf[collection.Map[String, Any]])
      case (k, v: Seq[_]) => k -> v.asJava
      case kv => kv
    }.asJava

  private def run(spark: SparkSession, w: Workload, seconds: Double, traced: Boolean,
      slots: Int, sessionS: Double, work: Path, out: mutable.Map[String, Any]): Unit = {
    val sc = spark.sparkContext
    var attempted = 0L
    val errors = mutable.ArrayBuffer[String]()
    var trace: Option[Trace] = None
    var passNo = 0

    /** One pass; returns (wall s, process CPU s, per-call latencies). */
    def pass(): (Double, Double, Seq[Double]) = {
      w.beforePass()
      // untimed: each pass starts from the heap's live data alone, so
      // neither the previous pass's garbage nor its collections fall on it
      System.gc()
      passNo += 1
      val t0 = System.currentTimeMillis(); val n0 = System.nanoTime(); val c0 = cpuNanos()
      val lat = w.calls.map { c =>
        val group = s"pass$passNo-$c"
        sc.setJobGroup(group, c)
        val s0 = System.currentTimeMillis(); val q0 = System.nanoTime()
        attempted += 1
        try {
          val (b0, b1) = w.call(c)
          trace.foreach(_.spans += Span("build", group, b0, b1, group))
        }
        catch { case e: Throwable => errors += s"$c: $e" }
        finally sc.clearJobGroup()
        trace.foreach(_.spans += Span("call", group, s0, System.currentTimeMillis(), s"pass$passNo"))
        (System.nanoTime() - q0) / 1e9
      }
      trace.foreach(_.spans += Span("pass", s"pass$passNo", t0, System.currentTimeMillis(), ""))
      ((System.nanoTime() - n0) / 1e9, (cpuNanos() - c0) / 1e9, lat)
    }

    val w0 = System.nanoTime()
    val codegen0 = (Codegen.compiles, Codegen.compileNanos)
    val warm = (1 to warmupPasses).map { _ =>
      val c0 = Codegen.compiles
      val wt = pass()._1
      (Codegen.compiles - c0, wt)
    }
    out("session_s") = sessionS
    out("setup_s") = sessionS + (System.nanoTime() - w0) / 1e9
    out("warmup_pass_compiles") = warm.map(_._1).toSeq
    out("warmup_pass_s") = warm.map(_._2).toSeq
    out("warmup_compiles") = Codegen.compiles - codegen0._1
    out("warmup_compile_s") = (Codegen.compileNanos - codegen0._2) / 1e9
    val warmFailures = errors.size
    attempted = 0

    // a traced run alternates untraced and traced passes, so that JIT
    // drift during the run falls on both sides of the overhead comparison
    val t = new Trace(spark, slots)
    val untraced, tracedPasses = mutable.ArrayBuffer[(Double, Double, Seq[Double])]()
    val sink0 = CountingStore.counters
    val end = System.nanoTime() + (seconds * 1e9).toLong
    LiveHeap.arm()
    while (untraced.size < 3 || System.nanoTime() < end) {
      untraced += pass()
      if (traced) {
        trace = Some(t)
        t.start()
        tracedPasses += pass()
        t.stop()
        trace = None
      }
    }
    out("pass_s") = untraced.map(_._1).toSeq
    out("cpu_s") = untraced.map(_._2).toSeq
    out("query_s") = untraced.flatMap(_._3).toSeq
    LiveHeap.disarm()
    out("peak_live_heap_mb") = LiveHeap.peakMb
    out("timed_gcs") = LiveHeap.collections
    if (traced) {
      val n = tracedPasses.size
      val sink = CountingStore.counters.map { case (k, v) => k -> (v - sink0(k)).toDouble / (2 * n) }
      out("traced_pass_s") = tracedPasses.map(_._1).toSeq
      out("layers") = (t.metrics(n, tracedPasses.map(_._1).sum) ++ Map(
        "codegen.warmup_compiles" -> out("warmup_compiles").asInstanceOf[Long].toDouble,
        "codegen.warmup_compile_s" -> out("warmup_compile_s").asInstanceOf[Double],
        "sink.puts" -> sink("puts"), "sink.put_bytes" -> sink("put_bytes"),
        "sink.put_s" -> sink("put_ns") / 1e9, "sink.opens" -> sink("opens"),
        "sink.unchanged_put_frac" -> (if (sink("puts") > 0) sink("unchanged") / sink("puts") else 0.0)
      )).asJava
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val spans = t.spans.map(s => mapper.writeValueAsString(Map("kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end, "parent" -> s.parent).asJava))
      Files.write(work.resolve("spans.jsonl"), spans.asJava)
    }
    out("attempted") = attempted
    out("failed") = errors.size.toLong - warmFailures
    out("errors") = errors.take(10).toSeq
    out("calls") = w.calls
  }
}
