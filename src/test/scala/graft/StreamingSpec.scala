package graft

import graft.ops.StreamingOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

case class EventIn(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

/** Structured Streaming behavior through MemoryStream: streaming windowed
  * aggregation equals the batch analog on identical data; the stateful
  * upsert reproduces the reference's merge semantics (latest wins, ties
  * keep existing); watermarking drops late data in append mode. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** Events with a 10-minute event-time watermark: late events beyond
    * it are dropped, and append mode finalizes a window once the
    * watermark passes its end. */
  private def watermarked(events: org.apache.spark.sql.DataFrame) =
    events.withWatermark("ts", "10 minutes")

  test("streaming tumbling agg equals batch q28 on the same events") {
    val rows = Tables.events(spark, SparkTest.sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[EventIn].collect().toSeq
    val input = MemoryStream[EventIn](spark)
    val q = StreamingOps.hourlyWindows(input.toDF())
      .writeStream.format("memory").queryName("tumbling_out")
      .outputMode("complete").start()
    try {
      input.addData(rows)
      q.processAllAvailable()
      val streamed = spark.table("tumbling_out")
        .orderBy("ws_us").collect().map(_.toSeq).toSeq
      val batch = StreamingOps.q28Tumbling(spark, SparkTest.sfDir)
        .collect().map(_.toSeq).toSeq
      assert(streamed == batch)
    } finally q.stop()
  }

  test("q172 AvailableNow file-stream run equals batch q28 exactly") {
    val streamed = StreamingOps
      .q172StreamingAvailableNow(spark, SparkTest.sfDir)
      .collect().map(_.toSeq).toSeq
    val batch = StreamingOps.q28Tumbling(spark, SparkTest.sfDir)
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("q206 AvailableNow streaming span ingest equals batch q203 exactly") {
    val streamed = StreamingOps
      .q206StreamingSpanIngest(spark, SparkTest.sfDir)
      .collect().map(_.toSeq).toSeq
    spark.catalog.clearCache()
    val batch = ops.SpanOps.q203SpanDedupIncr(spark, SparkTest.sfDir)
      .collect().map(_.toSeq).toSeq
    spark.catalog.clearCache()
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("q206 multi-trigger ingest: each trigger judged against all prior arrivals") {
    // two-file directory + maxFilesPerTrigger=1 → two DETERMINISTIC
    // triggers (file source orders by modification time, set explicitly
    // a full second apart). Ground truth composed from the batch
    // operators: t1 vs store, then t2 vs store ∪ digests(t1) — the
    // sequential contract (a cross-trigger pair keeps its first
    // arrival, unlike single-batch q203 which drops both).
    import spark.implicits._
    val vocab = Vector("alpha", "beta", "gamma")
    var s = 21L
    def next(m: Int) = { s = s * 6364136223846793005L + 1442695040888963407L
      (((s >>> 33) % m) + m) % m }
    val docs = (0L until 40L).map { id =>
      val n = 6 + next(25).toInt
      id -> (0 until n).map(_ => vocab(next(3).toInt)).mkString(" ")
    }
    val store = docs.filter(_._1 % 3 == 0)
    val t1 = docs.filter(_._1 % 3 == 1)
    val t2 = docs.filter(_._1 % 3 == 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_q206").toString
    try {
      SparkTest.stageTriggerFiles(s"$dir/stream",
        Seq(t1.toDF("doc_id", "text"), t2.toDF("doc_id", "text")))
      val schema = t1.toDF("doc_id", "text").schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(s"$dir/stream")
      val store0 = ops.SpanOps.spanIndex(store.toDF("doc_id", "text"))
        .localCheckpoint(true)
      spark.catalog.clearCache()
      val streamed = StreamingOps.streamingSpanIngest(spark, stream, store0,
          s"$dir/store")
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
      spark.catalog.clearCache()
      // batch-operator ground truth, trigger by trigger
      def runVs(batch: Seq[(Long, String)],
          idx: org.apache.spark.sql.DataFrame) =
        try ops.SpanOps.spanDedupVsStore(Pins.forPlan, batch.toDF("doc_id", "text"), idx)
          .collect().map(r => r.getLong(0) ->
            (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
        finally spark.catalog.clearCache()
      val out1 = runVs(t1, store0)
      val idx1 = store0.union(ops.SpanOps.spanIndexDelta(
        t1.toDF("doc_id", "text"), store0)).localCheckpoint(true)
      spark.catalog.clearCache()
      val out2 = runVs(t2, idx1)
      assert(streamed === out1 ++ out2)
      assert(streamed.values.map(_._2).sum > 0L, "law must be exercised")
      // and it differs from single-batch q203 on a cross-trigger pair
      // only when one exists; at minimum the sequential result never
      // flags MORE than the single-batch one
      val single = runVs(t1 ++ t2, store0)
      assert(streamed.values.map(_._2).sum <= single.values.map(_._2).sum)
    } finally {
      val walked = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try walked
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally walked.close()
    }
  }

  test("q209 AvailableNow streaming sig ingest equals batch q153 exactly") {
    val streamed = StreamingOps
      .q209StreamingSigIngest(spark, SparkTest.sfDir)
      .collect().map(_.toSeq).toSeq
    val batch = ops.Similarity
      .q153IncrementalDedup(spark, SparkTest.sfDir)
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("q209 multi-trigger ingest: each trigger judged against all prior bands") {
    // the q206 multi-trigger pin on the SIGNATURE store: two files,
    // maxFilesPerTrigger=1 → two deterministic triggers; ground truth
    // composed from the batch operators — t1 vs store0, then t2 vs
    // store0 ∪ bands(t1) (the sequential contract; a t2 near-dup of a
    // t1 doc IS flagged here, which single-batch q153 cannot see)
    import spark.implicits._
    // store bases live in the w-token space; FRESH bases in a
    // DISJOINT x-token space — zero shared shingles BY CONSTRUCTION
    // (code review r15b: an LCG over one vocab made "fresh" keys
    // 1-position shifts of store keys, true Jaccard 0.93, and the
    // cross-trigger pin held only by minhash tie luck). Letter-encoded
    // tokens — the tokenizer strips digits (the SparseIndexSpec
    // lesson).
    def let(n: Long): String =
      n.toString.map(c => ('a' + (c - '0')).toChar).mkString
    def base(k: Long): String =
      (0 until 30).map(j => s"w${let((k * 31 + j * 7) % 199)}")
        .mkString(" ")
    def fresh(k: Long): String =
      (0 until 30).map(j => s"x${let((k * 37 + j * 11) % 199)}")
        .mkString(" ")
    val store = (0L until 20L).map(i => (i, base(i)))
    // t1: five near-dups of store docs 0–4 + five FRESH x-space bases
    val t1 = (100L until 105L).map(i => (i, base(i - 100L) + " alpha")) ++
      (105L until 110L).map(i => (i, fresh(i)))
    // t2: near-dups of t1's FRESH docs — their only candidate is a t1
    // doc (id ≥ 100; x-space shares no shingle with the store), so the
    // match is visible solely through batch-0's folded bands
    val t2 = (200L until 205L).map(i =>
      (i, fresh(i - 95L) + " beta"))
    val dir = java.nio.file.Files.createTempDirectory("graft_q209").toString
    try {
      SparkTest.stageTriggerFiles(s"$dir/stream",
        Seq(t1.toDF("doc_id", "text"), t2.toDF("doc_id", "text")))
      val store0 = ops.Similarity.sigBands(store.toDF("doc_id", "text"))
        .localCheckpoint(true)
      ops.VersionedStore.init(store0, s"$dir/store")
      val stream = spark.readStream
        .schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(s"$dir/stream")
      val outSchema = ops.Similarity.dedupVsSigStore(
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          stream.schema), store0).schema
      val streamed = StreamingOps.drainAndClean(spark, stream, "q209t",
          outputMode = "append",
          perBatch = StreamingOps.sigIngestTrigger(spark, s"$dir/store"),
          outSchema = Some(outSchema))(_.orderBy("new_id"))
        .collect().map(r =>
          r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      // ground truth, trigger by trigger, from the batch operators
      val out1 = ops.Similarity.dedupVsSigStore(
          t1.toDF("doc_id", "text"), store0)
        .collect().map(r =>
          r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val idx1 = store0.unionByName(
        ops.Similarity.sigBands(t1.toDF("doc_id", "text")))
      val out2 = ops.Similarity.dedupVsSigStore(
          t2.toDF("doc_id", "text"), idx1)
        .collect().map(r =>
          r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(streamed === out1 ++ out2)
      // the cross-trigger law is actually exercised: some t2 doc's
      // best match is a T1 doc (id ≥ 100), invisible to a probe
      // against store0 alone
      assert(out2.values.exists(_._1 >= 100L),
        s"expected a t2→t1 cross-trigger match, got $out2")
    } finally {
      FsUtil.deleteRecursively(dir)
    }
  }

  test("q209 ingest survives a cross-restart WAL replay (versioned sig store)") {
    // the q206/q210 crash simulation on the SIGNATURE store: drain
    // batch 0, delete commits/0 (+.crc), stage a second file, drain
    // from the same checkpoint — replayed batch 0 probes segments < 0
    // (init only) and overwrites b0 bit-identically (band rows are a
    // deterministic hash of the doc, per-document); t2's x-space near-dup of a t1 doc then matches only
    // through the REWRITTEN b0.
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    def let(n: Long): String =
      n.toString.map(c => ('a' + (c - '0')).toChar).mkString
    def base(k: Long): String =
      (0 until 30).map(j => s"w${let((k * 31 + j * 7) % 199)}")
        .mkString(" ")
    def fresh(k: Long): String =
      (0 until 30).map(j => s"x${let((k * 37 + j * 11) % 199)}")
        .mkString(" ")
    val store = (0L until 20L).map(i => (i, base(i)))
    val t1 = (100L until 105L).map(i => (i, base(i - 100L) + " alpha")) ++
      (105L until 110L).map(i => (i, fresh(i)))
    val t2 = (200L until 205L).map(i => (i, fresh(i - 95L) + " beta"))
    val root = java.nio.file.Files.createTempDirectory("graft_q209_restart")
    val streamDir = java.nio.file.Files.createDirectory(root.resolve("stream"))
    val ckpt = root.resolve("ckpt")
    val sink = java.nio.file.Files.createDirectory(root.resolve("sink"))
    val storeRoot = root.resolve("store").toString
    try {
      val store0 = ops.Similarity.sigBands(store.toDF("doc_id", "text"))
        .localCheckpoint(true)
      ops.VersionedStore.init(store0, storeRoot)
      def drain(): Unit = {
        val hook = StreamingOps.sigIngestTrigger(spark, storeRoot)
        val stream = spark.readStream
          .schema("doc_id BIGINT, text STRING")
          .option("recursiveFileLookup", "true")
          .parquet(streamDir.toString)
        val q = stream.writeStream.outputMode("append")
          .foreachBatch { (df: DataFrame, id: Long) =>
            hook(df, id).write.mode("overwrite").parquet(s"$sink/b$id")
          }
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      t1.toDF("doc_id", "text").coalesce(1)
        .write.parquet(s"$streamDir/f1")
      drain()
      assert(java.nio.file.Files.exists(ckpt.resolve("commits").resolve("0")))
      val b0Rows = spark.read.parquet(s"$storeRoot/b0")
        .collect().map(_.toSeq).toSet
      java.nio.file.Files.delete(ckpt.resolve("commits").resolve("0"))
      java.nio.file.Files.deleteIfExists(
        ckpt.resolve("commits").resolve(".0.crc"))
      t2.toDF("doc_id", "text").coalesce(1)
        .write.parquet(s"$streamDir/f2")
      drain() // replays batch 0, then batch 1
      spark.catalog.clearCache()
      def rowsOf(df: DataFrame) = df.collect().map(r =>
        r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val streamed = rowsOf(spark.read
        .option("recursiveFileLookup", "true").parquet(sink.toString))
      val out1 = rowsOf(ops.Similarity.dedupVsSigStore(
        t1.toDF("doc_id", "text"), store0))
      val out2 = rowsOf(ops.Similarity.dedupVsSigStore(
        t2.toDF("doc_id", "text"), store0.unionByName(
          ops.Similarity.sigBands(t1.toDF("doc_id", "text")))))
      assert(streamed === out1 ++ out2)
      // deterministic fold: the replay rewrote b0 BIT-identically, and
      // the t2→t1 match (only reachable through it) held
      assert(spark.read.parquet(s"$storeRoot/b0")
        .collect().map(_.toSeq).toSet === b0Rows)
      assert(out2.values.exists(_._1 >= 100L),
        s"expected a t2→t1 match through the replayed fold: $out2")
    } finally FsUtil.deleteRecursively(root)
  }

  test("q210 AvailableNow streaming sem ingest equals batch q208 exactly") {
    val streamed = StreamingOps
      .q210StreamingSemIngest(spark, SparkTest.sfDir)
      .collect().map(_.toSeq).toSeq
    spark.catalog.clearCache()
    val batch = ops.SemStoreOps.q208SemDedupIncr(spark, SparkTest.sfDir)
      .collect().map(_.toSeq).toSeq
    spark.catalog.clearCache()
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("q210 multi-trigger ingest: each trigger judged against prior admitted reps") {
    // the q206/q209 sequential-contract pin on the SemDeDup store: two
    // files, maxFilesPerTrigger=1 → two deterministic triggers; ground
    // truth composed from the batch operators — t1 vs reps0, then t2
    // vs reps0 ∪ admitted(t1). A t2 copy of a t1-ADMITTED vector drops
    // only through batch-0's folded segment (invisible to a probe
    // against reps0 alone). Vectors: the SemStoreSpec well-separated
    // family — distinct (p, q) pairs have cosine ≤ 0.917 < τ, so only
    // exact copies are near-dups and every law is deterministic.
    import spark.implicits._
    val dim = 8
    def vec(i: Long): Seq[Double] = {
      val p = (i % dim).toInt
      val q = ((p + 1 + i / dim) % dim).toInt
      Seq.tabulate(dim)(j => (if (j == p) 1.0 else 0.0) +
        (if (j == q) 0.3 else 0.0))
    }
    val store = (0L until 40L).map(i => (i, vec(i)))
    val t1 = (100L until 103L).map(i => (i, vec(i - 100L))) ++ // store copies
      (105L until 108L).map(i => (i, vec(i - 60L)))            // fresh 45..47
    val t2 = Seq((200L, vec(45L)),  // copy of t1-ADMITTED 105 → fold-only drop
      (201L, vec(5L)),              // store copy → drops either way
      (202L, vec(50L)))             // fresh
    val dir = java.nio.file.Files
      .createTempDirectory("graft_q210").toString
    try {
      SparkTest.stageTriggerFiles(s"$dir/stream",
        Seq(t1, t2).map(_.toDF("id", "e")))
      val (model, reps0) = ops.SemStoreOps.semStoreBuild(Pins.forPlan,
        store.toDF("id", "e"), dim = dim, kOverride = Some(4))
      ops.VersionedStore.init(reps0, s"$dir/store")
      val stream = spark.readStream
        .schema(spark.read.parquet(s"$dir/stream/f0").schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(s"$dir/stream")
      val outSchema = ops.SemStoreOps.semDedupVsStore(
        StreamingOps.emptyFrame(spark, stream.schema), model, reps0).schema
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3))).toSeq.sorted
      val streamed = rows(StreamingOps.drainAndClean(spark, stream, "q210t",
        outputMode = "append",
        perBatch = StreamingOps.semIngestTrigger(spark, s"$dir/store",
          model),
        outSchema = Some(outSchema))(_.orderBy("cid")))
      // ground truth, trigger by trigger, from the batch operators
      val out1 = rows(ops.SemStoreOps.semDedupVsStore(
        t1.toDF("id", "e"), model, reps0))
      val adm1 = ops.SemStoreOps.semAdmitted(
        t1.toDF("id", "e"), model, reps0)
      val out2 = rows(ops.SemStoreOps.semDedupVsStore(
        t2.toDF("id", "e"), model, reps0.unionByName(adm1)))
      assert(streamed === (out1 ++ out2).sorted)
      // the cross-trigger law is actually exercised: t2 drops BOTH its
      // store copy and its copy of t1's admitted 105 (2 of 3 rows),
      // where a probe against reps0 alone drops only the store copy
      assert(out2.map(_._4).sum == 2L, s"expected 2 t2 drops: $out2")
      assert(rows(ops.SemStoreOps.semDedupVsStore(
        t2.toDF("id", "e"), model, reps0)).map(_._4).sum == 1L)
    } finally FsUtil.deleteRecursively(dir)
  }

  test("q210's audit-schema probe starts no job and matches a real one-batch audit") {
    import spark.implicits._
    val dim = 8
    def vec(i: Long): Seq[Double] = Seq.tabulate(dim)(j =>
      (if (j == i % dim) 1.0 else 0.0) + (if (j == (i + 1) % dim) 0.3 else 0.0))
    Pins.scoped { p =>
      val (model, reps) = ops.SemStoreOps.semStoreBuild(p,
        (0L until 40L).map(i => (i, vec(i))).toDF("id", "e"), dim = dim,
        kOverride = Some(4))
      val batch = Seq((100L, vec(3L)), (101L, vec(50L))).toDF("id", "e")
      val probe = StreamingOps.emptyFrame(spark, batch.schema)
      var probed: org.apache.spark.sql.types.StructType = null
      val jobs = SparkTest.jobsDuring {
        probed = ops.SemStoreOps.auditSchema(probe, model, reps)
      }
      assert(jobs == 0, s"the schema probe started $jobs job(s)")
      val real = ops.SemStoreOps.semIngest(p, batch, model, reps)._1
      assert(real.count() > 0L)
      def fields(s: org.apache.spark.sql.types.StructType) =
        s.fields.map(f => (f.name, f.dataType)).toSeq
      assert(fields(probed) == fields(real.schema))
    }
  }

  test("q210 ingest survives a cross-restart WAL replay (versioned reps store)") {
    // q206's crash simulation on the round-16 sem trigger: drain batch
    // 0, delete the checkpoint's commits/0 marker (post-write
    // pre-commit crash), stage a second file, drain again from the
    // SAME checkpoint — the restart replays batch 0 (probing segments
    // < 0, init only) and overwrites b0, then processes batch 1. The
    // batch is non-flooded, so the replay is bit-identical (the
    // semIngestTrigger caveat's deterministic half); the pin that the
    // REPLAYED fold is live: t2's copy of a t1-admitted vector drops
    // only through the rewritten b0.
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    val dim = 8
    def vec(i: Long): Seq[Double] = {
      val p = (i % dim).toInt
      val q = ((p + 1 + i / dim) % dim).toInt
      Seq.tabulate(dim)(j => (if (j == p) 1.0 else 0.0) +
        (if (j == q) 0.3 else 0.0))
    }
    val store = (0L until 40L).map(i => (i, vec(i)))
    val t1 = (100L until 103L).map(i => (i, vec(i - 100L))) ++
      (105L until 108L).map(i => (i, vec(i - 60L))) // fresh 45..47
    val t2 = Seq((200L, vec(45L)), // copy of t1-ADMITTED 105
      (201L, vec(5L)),             // store copy
      (202L, vec(50L)))            // fresh
    val root = java.nio.file.Files.createTempDirectory("graft_q210_restart")
    val streamDir = java.nio.file.Files.createDirectory(root.resolve("stream"))
    val ckpt = root.resolve("ckpt")
    val sink = java.nio.file.Files.createDirectory(root.resolve("sink"))
    val storeRoot = root.resolve("store").toString
    try {
      val (model, reps0) = ops.SemStoreOps.semStoreBuild(Pins.forPlan,
        store.toDF("id", "e"), dim = dim, kOverride = Some(4))
      ops.VersionedStore.init(reps0, storeRoot)
      def drain(): Unit = {
        // one hook per drain — the shipped usage (the second
        // drain runs the replayed b0 AND b1 through one closure)
        val hook = StreamingOps.semIngestTrigger(spark, storeRoot, model)
        val stream = spark.readStream
          .schema("id BIGINT, e ARRAY<DOUBLE>")
          .option("recursiveFileLookup", "true")
          .parquet(streamDir.toString)
        val q = stream.writeStream.outputMode("append")
          .foreachBatch { (df: DataFrame, id: Long) =>
            hook(df, id).write.mode("overwrite").parquet(s"$sink/b$id")
          }
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      t1.toDF("id", "e").coalesce(1).write.parquet(s"$streamDir/f1")
      drain() // batch 0 commits: sink/b0, store/b0
      assert(java.nio.file.Files.exists(ckpt.resolve("commits").resolve("0")))
      val b0Ids = spark.read.parquet(s"$storeRoot/b0")
        .select("id").collect().map(_.getLong(0)).toSet
      assert(b0Ids === Set(105L, 106L, 107L), s"admitted fold: $b0Ids")
      // the crash: writes landed, commit marker did not (.crc sidecar
      // removed too — the replayed commit's rename collides on it)
      java.nio.file.Files.delete(ckpt.resolve("commits").resolve("0"))
      java.nio.file.Files.deleteIfExists(
        ckpt.resolve("commits").resolve(".0.crc"))
      t2.toDF("id", "e").coalesce(1).write.parquet(s"$streamDir/f2")
      drain() // replays batch 0, then batch 1
      spark.catalog.clearCache()
      def rows(df: DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3))).toSeq.sorted
      val streamed = rows(spark.read
        .option("recursiveFileLookup", "true").parquet(sink.toString))
      // ground truth, trigger by trigger, from the batch operators
      val out1 = rows(ops.SemStoreOps.semDedupVsStore(
        t1.toDF("id", "e"), model, reps0))
      val adm1 = ops.SemStoreOps.semAdmitted(
        t1.toDF("id", "e"), model, reps0)
      val out2 = rows(ops.SemStoreOps.semDedupVsStore(
        t2.toDF("id", "e"), model, reps0.unionByName(adm1)))
      assert(streamed === (out1 ++ out2).sorted)
      // the replayed fold rewrote b0 with the identical admitted set,
      // and t2's fold-only dup (200 vs admitted 105) dropped through it
      assert(spark.read.parquet(s"$storeRoot/b0")
        .select("id").collect().map(_.getLong(0)).toSet === b0Ids)
      assert(out2.map(_._4).sum == 2L,
        s"t2 must drop its store copy AND its fold copy: $out2")
    } finally FsUtil.deleteRecursively(root)
  }

  test("q209 mid-stream store compaction: results bit-identical, segments bounded") {
    // the round-16 merge policy (VersionedStore.maintain): same
    // three-trigger drain run twice — once with maxSegments high (no
    // compaction ever fires) and once with maxSegments=1 (a compaction
    // fires at EVERY trigger past the first, exercising both fold
    // shapes: init+b0 → c1 and c1+b1 → c2). The sequential-contract
    // result must be bit-identical, the final stores set-identical,
    // and the compacted layout must actually be compacted (live
    // segments ≤ maxSegments+1, `init`/folded deltas GC'd).
    import spark.implicits._
    def let(n: Long): String =
      n.toString.map(c => ('a' + (c - '0')).toChar).mkString
    def base(k: Long): String =
      (0 until 30).map(j => s"w${let((k * 31 + j * 7) % 199)}").mkString(" ")
    def fresh(k: Long): String =
      (0 until 30).map(j => s"x${let((k * 37 + j * 11) % 199)}").mkString(" ")
    val store = (0L until 20L).map(i => (i, base(i)))
    val t1 = (100L until 105L).map(i => (i, base(i - 100L) + " alpha")) ++
      (105L until 110L).map(i => (i, fresh(i)))
    val t2 = (200L until 205L).map(i => (i, fresh(i - 95L) + " beta"))
    val t3 = (300L until 305L).map(i => (i, fresh(i - 195L) + " gamma"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_q209_compact").toString
    try {
      SparkTest.stageTriggerFiles(s"$dir/stream",
        Seq(t1, t2, t3).map(_.toDF("doc_id", "text")))
      val store0 = ops.Similarity.sigBands(store.toDF("doc_id", "text"))
        .localCheckpoint(true)
      def run(root: String, maxSegments: Int) = {
        ops.VersionedStore.init(store0, root)
        val stream = spark.readStream
          .schema("doc_id BIGINT, text STRING")
          .option("maxFilesPerTrigger", "1")
          .option("recursiveFileLookup", "true")
          .parquet(s"$dir/stream")
        val outSchema = ops.Similarity.dedupVsSigStore(
          spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](),
            stream.schema), store0).schema
        StreamingOps.drainAndClean(spark, stream, "q209c",
            outputMode = "append",
            perBatch = StreamingOps.sigIngestTrigger(spark, root,
              maxSegments),
            outSchema = Some(outSchema))(_.orderBy("new_id"))
          .collect().map(_.toSeq).toSeq
      }
      val plain = run(s"$dir/storeA", maxSegments = 1000)
      val compacted = run(s"$dir/storeB", maxSegments = 1)
      assert(plain.nonEmpty && compacted === plain)
      // a t3 doc matched a t1 doc — the sequential contract crosses
      // the compacted generation (t3's probe reads c2, which folded
      // t1's bands out of b0)
      assert(plain.exists(r => r.head.asInstanceOf[Long] >= 300L &&
        { val d = r(1).asInstanceOf[Long]; d >= 100L && d < 200L }),
        s"expected a t3->t1 match through the compacted store: $plain")
      // layout: compaction actually fired and GC'd what it superseded
      val segsB = ops.VersionedStore.segmentsBefore(spark, s"$dir/storeB", 3L)
      assert(segsB.size <= 2, s"live segments not bounded: $segsB")
      assert(segsB.exists(_.endsWith("/c2")), s"no compacted gen: $segsB")
      val live = new java.io.File(s"$dir/storeB").listFiles().map(_.getName)
      assert(!live.contains("init") && !live.contains("b0") &&
        !live.contains("b1") && !live.contains("c1"), live.mkString(","))
      // the stores are set-identical through either layout
      def bandSet(root: String) =
        ops.VersionedStore.before(spark, root, 3L)
          .select("band_idx", "band_key", "doc_id")
          .collect().map(_.toSeq).toSet
      assert(bandSet(s"$dir/storeA") === bandSet(s"$dir/storeB"))
    } finally FsUtil.deleteRecursively(dir)
  }

  test("q206 ingest survives a cross-restart WAL replay (versioned store)") {
    // The r14 durability gap, now closed: foreachBatch writes its sink
    // and store delta BEFORE the WAL commit, so a batch that wrote and
    // died is re-run on restart with the same batchId. Simulated
    // exactly: drain batch 0, delete the checkpoint's commits/0 marker
    // (the on-disk state of a post-write pre-commit crash), add a
    // second file, drain again from the SAME checkpoint — the
    // restarted query REPLAYS batch 0 (from the source metadata log)
    // and then processes batch 1. With the batchId-versioned store the
    // replay probes segments < 0 (init only — the pre-fold snapshot)
    // and overwrites b0 idempotently; the old driver-held guard lost
    // exactly this case, flagging every replayed span a store hit.
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    val root = java.nio.file.Files.createTempDirectory("graft_q206_restart")
    val streamDir = java.nio.file.Files.createDirectory(root.resolve("stream"))
    val ckpt = root.resolve("ckpt")
    val sink = java.nio.file.Files.createDirectory(root.resolve("sink"))
    val storeRoot = root.resolve("store").toString
    // 8-token docs → exactly one span each
    val standing = Seq(
      (100L, "alpha bravo charlie delta echo foxtrot golf hotel"))
    val b1 = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot golf hotel"), // store dup
      (2L, "one two three four five six seven eight")) // fresh span
    val b2 = Seq(
      (3L, "one two three four five six seven eight"), // dup via b0's fold
      (4L, "nine ten eleven twelve thirteen fourteen fifteen sixteen"))
    def drain(): Unit = {
      // ONE hook per drain — the shipped usage; the second drain here
      // runs TWO triggers (replayed b0, then b1) through one closure
      val hook = ops.SpanOps.spanIngestTrigger(spark, storeRoot)
      val stream = spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("recursiveFileLookup", "true").parquet(streamDir.toString)
      val q = stream.writeStream.outputMode("append")
        .foreachBatch { (df: DataFrame, id: Long) =>
          hook(df, id).write.mode("overwrite").parquet(s"$sink/b$id")
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    try {
      val init = ops.SpanOps.spanIndex(standing.toDF("doc_id", "text"))
      ops.SpanOps.spanStoreInit(init, storeRoot)
      b1.toDF("doc_id", "text").coalesce(1).write.parquet(s"$streamDir/f1")
      drain() // batch 0 commits: sink/b0, store/b0
      assert(java.nio.file.Files.exists(ckpt.resolve("commits").resolve("0")))
      val b0Digests = spark.read.parquet(s"$storeRoot/b0")
        .collect().map(_.getAs[Array[Byte]](0).toSeq).toSet
      // the crash: batch 0's writes landed but its commit marker did
      // not (the local ChecksumFs keeps a .crc sidecar — remove it
      // too, or the replayed commit's rename collides on it)
      java.nio.file.Files.delete(ckpt.resolve("commits").resolve("0"))
      java.nio.file.Files.deleteIfExists(
        ckpt.resolve("commits").resolve(".0.crc"))
      b2.toDF("doc_id", "text").coalesce(1).write.parquet(s"$streamDir/f2")
      drain() // replays batch 0, then batch 1
      spark.catalog.clearCache()
      val streamed = spark.read
        .option("recursiveFileLookup", "true").parquet(sink.toString)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
      // ground truth composed from the batch operators, trigger order
      def runVs(batch: Seq[(Long, String)], idx: DataFrame) =
        try ops.SpanOps.spanDedupVsStore(Pins.forPlan, batch.toDF("doc_id", "text"), idx)
          .collect().map(r => r.getLong(0) ->
            (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
        finally spark.catalog.clearCache()
      val out1 = runVs(b1, init)
      val idx1 = init.union(
        ops.SpanOps.spanIndexDelta(b1.toDF("doc_id", "text"), init))
        .localCheckpoint(true)
      spark.catalog.clearCache()
      val out2 = runVs(b2, idx1)
      assert(streamed === out1 ++ out2)
      // the replay pin itself: doc 2's span must NOT read as a store
      // hit on replay (the lost-guard failure mode), while the genuine
      // dups (doc 1 vs store, doc 3 vs batch-0's fold) must
      assert(streamed(2L)._2 == 0L, s"replay flagged a fresh span: $streamed")
      assert(streamed(1L)._2 == 1L && streamed(3L)._2 == 1L)
      assert(streamed(4L)._2 == 0L)
      // folded exactly once, replay overwrote b0 with identical content
      assert(spark.read.parquet(s"$storeRoot/b0")
        .collect().map(_.getAs[Array[Byte]](0).toSeq).toSet === b0Digests)
      val all = spark.read.parquet(
        s"$storeRoot/init", s"$storeRoot/b0", s"$storeRoot/b1")
      assert(all.count() == all.distinct().count(),
        "a digest was folded into more than one segment")
    } finally FsUtil.deleteRecursively(root)
  }

  test("q194 AvailableNow session-window stream equals batch q30 exactly") {
    val streamed = StreamingOps
      .q194StreamingSession(spark, SparkTest.sfDir)
      .collect().map(_.toSeq).toSeq
    val batch = StreamingOps.q30Session(spark, SparkTest.sfDir)
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("q195 AvailableNow stream-stream interval join equals the batch range join") {
    val streamed = StreamingOps
      .q195StreamingIntervalJoin(spark, SparkTest.sfDir)
      .collect().map(_.toSeq).toSeq
    val ev = Tables.events(spark, SparkTest.sfDir)
    val batch = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("c_id"), col("ts").as("c_ts"))
      .join(ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("event_id").as("p_id"),
            col("ts").as("p_ts")),
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("c_id"), col("p_id"),
        unix_micros(col("c_ts")).as("c_ts_us"),
        unix_micros(col("p_ts")).as("p_ts_us"))
      .orderBy("c_id", "p_id")
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("q196 AvailableNow stream-static enrich equals the batch join+group") {
    val streamed = StreamingOps
      .q196StreamingEnrich(spark, SparkTest.sfDir)
      .collect().map(_.toSeq).toSeq
    val batch = Tables.events(spark, SparkTest.sfDir)
      .join(Tables.customer(spark, SparkTest.sfDir)
          .select(col("c_custkey"), col("c_mktsegment")),
        col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .orderBy("c_mktsegment")
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("transformWithState upsert matches flatMapGroupsWithState semantics") {
    // transformWithState requires the RocksDB state store provider;
    // scope the conf to this test and restore the default after.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[EventIn](spark)
    val q = StreamingOps.statefulUpsertTws(input.toDF())
      .writeStream.format("memory").queryName("tws_out")
      .outputMode("update").start()
    try {
      input.addData(EventIn(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0))
      q.processAllAvailable()
      // same ts, different event -> existing wins (quirk 2)
      input.addData(EventIn(2, ts("2024-01-01 10:00:00"), 1, "click", 2.0))
      q.processAllAvailable()
      // strictly later -> replaces; second key is independent state
      input.addData(
        EventIn(3, ts("2024-01-01 11:00:00"), 1, "click", 3.0),
        EventIn(4, ts("2024-01-01 09:00:00"), 1, "view", 4.0))
      q.processAllAvailable()
      val emitted = spark.table("tws_out").collect()
        .map(r => (r.getString(1), r.getLong(2))).toSeq
      // batches 1 and 2 emit one row each (in order); batch 3's two keys
      // emit in arbitrary partition order — compare that batch as a set
      assert(emitted.take(2) == Seq(("click", 1L), ("click", 1L)),
        s"got $emitted")
      assert(emitted.drop(2).toSet == Set(("click", 3L), ("view", 4L)),
        s"got $emitted")
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("watermark: late data beyond 10 minutes is dropped in append mode") {
    val input = MemoryStream[EventIn](spark)
    val q = StreamingOps.hourlyWindows(watermarked(input.toDF()))
      .writeStream.format("memory").queryName("late_out")
      .outputMode("append").start()
    try {
      input.addData(
        EventIn(1, ts("2024-01-01 10:10:00"), 1, "click", 1.0),
        EventIn(2, ts("2024-01-01 10:20:00"), 1, "click", 1.0))
      q.processAllAvailable()
      // advance event time far past the 10:00 window + watermark
      input.addData(EventIn(3, ts("2024-01-01 13:00:00"), 1, "click", 1.0))
      q.processAllAvailable()
      val afterClose = spark.table("late_out")
        .filter(col("ws_us") === 1704103200000000L) // 2024-01-01 10:00 UTC
        .collect()
      assert(afterClose.length == 1 && afterClose.head.getLong(1) == 2,
        "10:00 window should have finalized with 2 events")
      // a very late event for the closed 10:00 window must be dropped
      input.addData(EventIn(4, ts("2024-01-01 10:30:00"), 1, "click", 1.0))
      q.processAllAvailable()
      val stillClosed = spark.table("late_out")
        .filter(col("ws_us") === 1704103200000000L).collect()
      assert(stillClosed.length == 1 && stillClosed.head.getLong(1) == 2,
        "late event must not reopen or change the finalized window")
    } finally q.stop()
  }

  test("checkpoint recovery: a restarted query emits each window exactly once") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_out").toString
    val input = MemoryStream[EventIn](spark)
    def start() = StreamingOps.hourlyWindows(watermarked(input.toDF()))
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    // phase 1: fill the 10:00 window, then advance the watermark past it
    val q1 = start()
    try {
      input.addData(Seq(
        EventIn(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
        EventIn(2, ts("2024-01-01 10:20:00"), 1, "click", 1.0)))
      q1.processAllAvailable()
      input.addData(EventIn(3, ts("2024-01-01 12:00:00"), 1, "click", 1.0))
      q1.processAllAvailable()
    } finally q1.stop()
    // phase 2: restart from the checkpoint, advance past the 12:00 window
    val q2 = start()
    try {
      input.addData(EventIn(4, ts("2024-01-01 14:00:00"), 1, "click", 1.0))
      q2.processAllAvailable()
    } finally q2.stop()
    val rows = spark.read.parquet(out)
      .select("ws_us", "n_events").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // 10:00 window (2 events) from before the restart, 12:00 window
    // (1 event) finalized after it — each exactly once, no
    // reprocessing duplicates
    val w1000 = 1704103500000000L - 300000000L // 2024-01-01 10:00 UTC epoch us
    val w1200 = w1000 + 2L * 3600000000L
    assert(rows == Seq((w1000, 2L), (w1200, 1L)), s"got $rows")
  }

  test("state-store reader: checkpointed aggregation state is inspectable") {
    // Spark 4.x `statestore` data source — the production path for
    // debugging a stateful query's accumulated state WITHOUT stopping
    // it or instrumenting code: point the reader at the checkpoint.
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_sr").toString
    val out = java.nio.file.Files.createTempDirectory("graft_out_sr").toString
    val input = MemoryStream[EventIn](spark)
    val q = StreamingOps.hourlyWindows(watermarked(input.toDF()))
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      input.addData(Seq(
        EventIn(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
        EventIn(2, ts("2024-01-01 10:20:00"), 1, "click", 1.0),
        EventIn(3, ts("2024-01-01 11:10:00"), 1, "click", 1.0)))
      q.processAllAvailable()
    } finally q.stop()
    val state = spark.read.format("statestore").load(ckpt)
    // the store holds raw aggregation BUFFERS keyed by window — the
    // count buffer surfaces as `value.count` (internal name, not the
    // query's output alias). The 11:10 event advanced the watermark to
    // 11:00, so the CLOSED 10:00 window was emitted and EVICTED; only
    // the open 11:00 window (1 event) remains in state — the reader
    // shows exactly the bounded-state contract at work.
    val counts = state.select(col("value.count"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(counts == Seq(1L), s"got $counts")
  }

  test("Trigger.AvailableNow: drains everything queued, then stops itself") {
    // The production catch-up mode: process ALL available data in
    // rate-limited micro-batches, then terminate — a cron-scheduled
    // incremental job with streaming exactly-once semantics, no
    // always-on cluster.
    val out = java.nio.file.Files.createTempDirectory("graft_an").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_an_ck").toString
    val input = MemoryStream[EventIn](spark)
    input.addData(Seq(
      EventIn(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
      EventIn(2, ts("2024-01-01 10:20:00"), 2, "view", 2.0)))
    val q = input.toDF().select(col("event_id"), col("user_id"))
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .outputMode("append").start()
    assert(q.awaitTermination(60000), "AvailableNow must self-terminate")
    val ids = spark.read.parquet(out).select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L))
  }

  test("StreamingQueryListener reports per-batch input rows and state size") {
    // the production monitoring surface: progress events carry input
    // rates and per-operator state metrics without touching the query
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
        seen.add(e.progress.numInputRows)
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val input = MemoryStream[EventIn](spark)
    val q = StreamingOps.hourlyWindows(watermarked(input.toDF()))
      .writeStream.format("memory").queryName("g_listener")
      .outputMode("update").start()
    try {
      input.addData(Seq(
        EventIn(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
        EventIn(2, ts("2024-01-01 10:20:00"), 1, "click", 1.0)))
      q.processAllAvailable()
      input.addData(EventIn(3, ts("2024-01-01 11:00:00"), 1, "click", 1.0))
      q.processAllAvailable()
      // listener events are delivered asynchronously
      val deadline = System.nanoTime() + 30e9.toLong
      while (seen.asScala.sum < 3 && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(seen.asScala.sum == 3,
        s"listener saw ${seen.asScala.toList} (want total 3 input rows)")
    } finally {
      q.stop(); spark.streams.removeListener(listener)
    }
  }

  test("stream-stream interval join matches the batch evaluation") {
    val clicks = MemoryStream[EventIn](spark)
    val purchases = MemoryStream[EventIn](spark)
    val q = StreamingOps.streamingIntervalJoin(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try {
      val cRows = Seq(
        EventIn(1, ts("2024-01-01 10:00:00"), 1, "click", 0),
        EventIn(2, ts("2024-01-01 10:30:00"), 1, "click", 0),
        EventIn(3, ts("2024-01-01 10:00:00"), 2, "click", 0))
      val pRows = Seq(
        EventIn(10, ts("2024-01-01 10:45:00"), 1, "purchase", 0), // joins c1+c2
        EventIn(11, ts("2024-01-01 12:00:00"), 1, "purchase", 0), // too late for both
        EventIn(12, ts("2024-01-01 10:10:00"), 2, "purchase", 0), // joins c3
        EventIn(13, ts("2024-01-01 09:59:00"), 2, "purchase", 0)) // before c3
      clicks.addData(cRows); purchases.addData(pRows)
      q.processAllAvailable()
      val streamed = spark.table("ssj_out")
        .select("c_id", "p_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(streamed == Seq((1L, 10L), (2L, 10L), (3L, 12L)), s"got $streamed")
      // batch evaluation of the same builder on static frames agrees
      import spark.implicits._
      val batch = StreamingOps.streamingIntervalJoin(
          cRows.toDF(), pRows.toDF())
        .select("c_id", "p_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(batch == streamed)
    } finally q.stop()
  }

  test("q198 AvailableNow transformWithState upsert equals the batch argmax") {
    val streamed = StreamingOps
      .q198StreamingUpsert(spark, SparkTest.sfDir)
      .collect().map(_.toSeq).toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "event_type")
      .orderBy(col("ts_us").desc, col("event_id"))
    val batch = Tables.events(spark, SparkTest.sfDir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .orderBy("user_id", "event_type")
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
    // the RocksDB provider conf is restored after the drain
    assert(!spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      .exists(_.contains("RocksDB")))
  }

  test("q198 RocksDB state survives a checkpoint restart") {
    // The production property nothing else covers: kill the query,
    // restart from the SAME checkpoint, and the per-key ValueState
    // must come back from the RocksDB snapshot/changelog. The probe
    // is a key touched in phase 2 by an event OLDER than its phase-1
    // winner: with recovered state the processor re-emits the
    // phase-1 winner; with lost state it would emit the old event.
    // (The end-to-end argmax over the whole sink would MASK state
    // loss — the phase-1 winner is already in the sink — so the
    // assertion reads the phase-2 files alone.)
    import java.nio.file.Files
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    val root = Files.createTempDirectory("graft-q198-restart")
    val streamDir = Files.createDirectory(root.resolve("events"))
    val ckpt = root.resolve("ckpt")
    val sink = Files.createDirectory(root.resolve("sink"))
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

    def addFile(name: String, rows: Seq[(Long, String, Long, Long)]): Unit = {
      val tmp = Files.createTempDirectory("graft-q198-restart-w")
      rows.toDF("user_id", "event_type", "event_id", "us")
        .select(col("user_id"), col("event_type"), col("event_id"),
          timestamp_micros(col("us")).as("ts"))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val listed = Files.list(tmp)
      val part =
        try listed.iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        finally listed.close()
      Files.copy(part, streamDir.resolve(name))
      val walked = Files.walk(tmp)
      try walked.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally walked.close()
    }
    def drain(): Unit = {
      val ev = spark.readStream
        .schema("user_id BIGINT, event_type STRING, event_id BIGINT, ts TIMESTAMP")
        .parquet(streamDir.toString)
      // batchId-keyed overwrite, NOT a flat append: this checkpoint is
      // REUSED across drains, so a batch that wrote the sink but died
      // before its WAL commit would be replayed on restart — overwrite
      // into b<id> replays to the identical sink state where a flat
      // append would duplicate the batch's rows (ADVICE r9)
      val q = StreamingOps.statefulUpsertTws(ev)
        .writeStream.outputMode("update")
        .foreachBatch { (df: DataFrame, batchId: Long) =>
          df.write.mode("overwrite").parquet(sink.resolve(s"b$batchId").toString)
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def sinkBatchDirs(): Set[String] = {
      val listed = Files.list(sink)
      try listed.iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("b")).toSet
      finally listed.close()
    }

    try {
      // phase 1: two keys get their winners into state
      addFile("b1.parquet", Seq(
        (1L, "click", 101L, 100000000L), (2L, "click", 102L, 200000000L)))
      drain()
      val phase1Dirs = sinkBatchDirs()
      // phase 2, same checkpoint: key 1 touched by an OLDER event
      // (the state-recovery probe) and a fresh key 3
      addFile("b2.parquet", Seq(
        (1L, "click", 103L, 50000000L), (3L, "click", 104L, 10000000L)))
      drain()
      val phase2 = spark.read.parquet(
          (sinkBatchDirs() -- phase1Dirs).map(f => sink.resolve(f).toString).toSeq: _*)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
      // recovered state: key 1 re-emits winner 101 (not the older 103)
      assert(phase2 == Set((1L, 101L, 100000000L), (3L, 104L, 10000000L)),
        s"phase-2 emissions $phase2 — 103 here means state was lost on restart")
      // and the full-sink argmax gives the overall winners
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id", "event_type")
        .orderBy(col("ts_us").desc, col("event_id"))
      val finalWinners = spark.read
        .option("recursiveFileLookup", "true").parquet(sink.toString)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      assert(finalWinners == Set((1L, 101L), (2L, 102L), (3L, 104L)))
    } finally {
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      val walked = Files.walk(root)
      try walked.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally walked.close()
    }
  }

  test("q194 session-window merge state survives a checkpoint restart") {
    // The session twin of q198's restart pin, on q194's production
    // provider (RocksDB): kill after phase 1, restart from the SAME
    // checkpoint, and the per-user session-merge state must come back.
    // The probe is a phase-2 event INSIDE the 30-minute gap of a
    // phase-1 session: with recovered state the restarted query MERGES
    // it (phase-1 start preserved, count grows across the restart);
    // with lost state it would open a fresh session at the phase-2
    // timestamp. Complete mode (q194's drain mode) re-emits the full
    // table, so the final flat-sink overwrite is also checked against
    // a batch evaluation of q194's builder (q30's) over all events.
    import java.nio.file.Files
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    val root = Files.createTempDirectory("graft-q194-restart")
    val streamDir = Files.createDirectory(root.resolve("events"))
    val ckpt = root.resolve("ckpt")
    val sink = Files.createDirectory(root.resolve("sink"))
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

    val t0 = 10000000000L // us; session gap = 30 min = 1.8e9 us
    // every event carries value 1.25, so a session's sum is 1.25 × n
    def events(rows: Seq[(Long, Long)]) = rows.toDF("user_id", "us")
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"),
        lit(1.25).as("value"))
    def addFile(name: String, rows: Seq[(Long, Long)]): Unit = {
      val tmp = Files.createTempDirectory("graft-q194-restart-w")
      events(rows).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val listed = Files.list(tmp)
      val part =
        try listed.iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        finally listed.close()
      Files.copy(part, streamDir.resolve(name))
      val walked = Files.walk(tmp)
      try walked.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally walked.close()
    }
    def drain(): Unit = {
      val ev = spark.readStream
        .schema("user_id BIGINT, ts TIMESTAMP, value DOUBLE")
        .parquet(streamDir.toString)
      val q = StreamingOps.userSessions(ev)
        .writeStream.outputMode("complete")
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.write.mode("overwrite").parquet(sink.toString)
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    try {
      // phase 1: user 1 opens a 2-event session; user 2 a 1-event one
      addFile("b1.parquet", Seq(
        (1L, t0), (1L, t0 + 600000000L), (2L, t0 - 3600000000L)))
      drain()
      // phase 2, same checkpoint: user 1 touched 25 min after its last
      // phase-1 event (inside the gap — the merge probe) + fresh user 3
      addFile("b2.parquet", Seq(
        (1L, t0 + 2100000000L), (3L, t0 + 36000000000L)))
      drain()
      val drained = spark.read.parquet(sink.toString).collect()
      val got = drained.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // recovered state: user 1 is ONE session starting at its phase-1
      // start with 3 events; a fresh 1-event session here means the
      // merge state was lost on restart
      assert(got == Set((1L, t0, 3L), (2L, t0 - 3600000000L, 1L),
        (3L, t0 + 36000000000L, 1L)), s"final sessions $got")
      assert(drained.forall(r => r.getDouble(3) == 1.25 * r.getLong(2)),
        s"sum_value follows the merged sessions: ${drained.mkString(", ")}")
      // final ≡ batch: the same builder over all events as a static frame
      val batch = StreamingOps.userSessions(events(Seq(
          (1L, t0), (1L, t0 + 600000000L), (2L, t0 - 3600000000L),
          (1L, t0 + 2100000000L), (3L, t0 + 36000000000L))))
        .collect().map(_.toSeq).toSet
      assert(drained.map(_.toSeq).toSet == batch)
    } finally {
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      val walked = Files.walk(root)
      try walked.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally walked.close()
    }
  }

  test("q195 interval-join state survives a checkpoint restart") {
    // The dual-sided join twin of q198's restart pin, on q195's
    // production provider (the default HDFS-backed store — so both
    // provider recovery paths are covered across the three restart
    // pins). The probe is a purchase arriving AFTER the restart that
    // matches a click buffered in PHASE-1 join state: with recovered
    // state the restarted query emits the pair; with lost state the
    // click is gone and only the in-phase control pair appears.
    import java.nio.file.Files
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    val root = Files.createTempDirectory("graft-q195-restart")
    val clickDir = Files.createDirectory(root.resolve("clicks"))
    val purchDir = Files.createDirectory(root.resolve("purchases"))
    val ckpt = root.resolve("ckpt")
    val sink = Files.createDirectory(root.resolve("sink"))

    val t0 = 10000000000L // us; join window = 1 h after the click
    def addFile(dir: java.nio.file.Path, name: String,
        rows: Seq[(Long, Long, Long)]): Unit = {
      val tmp = Files.createTempDirectory("graft-q195-restart-w")
      rows.toDF("user_id", "event_id", "us")
        .select(col("user_id"), col("event_id"),
          timestamp_micros(col("us")).as("ts"))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val listed = Files.list(tmp)
      val part =
        try listed.iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        finally listed.close()
      Files.copy(part, dir.resolve(name))
      val walked = Files.walk(tmp)
      try walked.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally walked.close()
    }
    def drain(): Unit = {
      def src(d: java.nio.file.Path) = spark.readStream
        .schema("user_id BIGINT, event_id BIGINT, ts TIMESTAMP")
        .parquet(d.toString)
      val q = StreamingOps.streamingIntervalJoin(src(clickDir), src(purchDir))
        .writeStream.outputMode("append")
        .foreachBatch { (df: DataFrame, batchId: Long) =>
          df.write.mode("overwrite").parquet(sink.resolve(s"b$batchId").toString)
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def sinkBatchDirs(): Set[String] = {
      val listed = Files.list(sink)
      try listed.iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("b")).toSet
      finally listed.close()
    }

    try {
      // phase 1: user 1's click is buffered unmatched (its purchase
      // has not arrived); user 2's purchase never matches anything
      addFile(clickDir, "c1.parquet", Seq((1L, 101L, t0)))
      addFile(purchDir, "p1.parquet", Seq((2L, 901L, t0)))
      drain()
      val phase1Dirs = sinkBatchDirs()
      // phase 2, same checkpoint: user 1's purchase 30 min after the
      // PHASE-1 click (the state-recovery probe), plus an in-phase
      // control pair for user 3
      addFile(clickDir, "c2.parquet", Seq((3L, 103L, t0 + 300000000L)))
      addFile(purchDir, "p2.parquet", Seq(
        (1L, 902L, t0 + 1800000000L), (3L, 903L, t0 + 1200000000L)))
      drain()
      val newDirs = (sinkBatchDirs() -- phase1Dirs).toSeq
      val phase2 = spark.read.parquet(newDirs.map(f =>
          sink.resolve(f).toString): _*)
        .select("c_id", "p_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // recovered state: phase-1 click 101 joins purchase 902; its
      // absence here means the click side's join state was lost
      assert(phase2 == Set((101L, 902L), (103L, 903L)),
        s"phase-2 joins $phase2 — missing (101,902) means the phase-1 " +
          "click was lost on restart")
      // final ≡ batch: all emitted pairs equal the batch evaluation of
      // the same builder over the union of both sides' static frames
      val allClicks = Seq((1L, 101L, t0), (3L, 103L, t0 + 300000000L))
      val allPurch = Seq((2L, 901L, t0), (1L, 902L, t0 + 1800000000L),
        (3L, 903L, t0 + 1200000000L))
      def df(rows: Seq[(Long, Long, Long)]) = rows
        .toDF("user_id", "event_id", "us")
        .select(col("user_id"), col("event_id"),
          timestamp_micros(col("us")).as("ts"))
      val batch = StreamingOps.streamingIntervalJoin(df(allClicks), df(allPurch))
        .select("c_id", "p_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val streamedAll = spark.read
        .option("recursiveFileLookup", "true").parquet(sink.toString)
        .select("c_id", "p_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamedAll == batch && batch == Set((101L, 902L), (103L, 903L)))
    } finally {
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      val walked = Files.walk(root)
      try walked.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally walked.close()
    }
  }

  test("distributed drain survives zero-row results (append and complete)") {
    // the r9 drain rewrite (memory sink was a hidden collect-to-driver,
    // OOM'd at 100×) reads the sink dir back with an explicit schema —
    // this pins the edge the memory sink never had: a drain whose every
    // batch emits nothing leaves no part files to infer from
    val none = StreamingOps.eventStream(spark, SparkTest.sfDir)
      .filter(col("event_type") === "no_such_type")
    val completeOut = StreamingOps.drainAndClean(spark,
      none.groupBy(col("event_type")).agg(count(lit(1)).as("n")),
      "drain_empty_c")(identity)
    assert(completeOut.count() == 0 &&
      completeOut.columns.toSeq == Seq("event_type", "n"))
    val appendOut = StreamingOps.drainAndClean(spark,
      StreamingOps.hourlyWindows(watermarked(none)), "drain_empty_a",
      outputMode = "append")(identity)
    assert(appendOut.count() == 0 &&
      appendOut.columns.contains("n_events"))
  }

  test("multi-batch drain keeps every batch's delta (batchId-keyed sink)") {
    // The r10 sink rewrite: append/update drains write each batch into
    // its own b<id> subdirectory with overwrite (idempotent replay).
    // This pins the union property that rewrite must not break: a key
    // emitted ONLY in an early batch survives a drain that runs more
    // batches afterwards — a flat-overwrite sink would keep just the
    // FINAL batch's delta (here: 1 row instead of 3). Three files +
    // maxFilesPerTrigger=1 force three single-emission update batches.
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft-multibatch")
    val streamDir = Files.createDirectory(root.resolve("events"))
    def addFile(name: String, userId: Long, eventId: Long, us: Long): Unit = {
      val tmp = Files.createTempDirectory("graft-multibatch-w")
      Seq((userId, "click", eventId, us)).toDF("user_id", "event_type", "event_id", "us")
        .select(col("user_id"), col("event_type"), col("event_id"),
          timestamp_micros(col("us")).as("ts"))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val listed = Files.list(tmp)
      val part =
        try listed.iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        finally listed.close()
      Files.copy(part, streamDir.resolve(name))
      val walked = Files.walk(tmp)
      try walked.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally walked.close()
    }
    // transformWithState requires the RocksDB provider (column families)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      addFile("f1.parquet", 1L, 101L, 100000000L)
      addFile("f2.parquet", 2L, 102L, 200000000L)
      addFile("f3.parquet", 3L, 103L, 300000000L)
      val ev = spark.readStream
        .schema("user_id BIGINT, event_type STRING, event_id BIGINT, ts TIMESTAMP")
        .option("maxFilesPerTrigger", "1")
        .parquet(streamDir.toString)
      val out = StreamingOps.drainAndClean(spark,
        StreamingOps.statefulUpsertTws(ev), "multibatch",
        outputMode = "update")(identity)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      assert(out == Set((1L, 101L), (2L, 102L), (3L, 103L)),
        s"got $out — a 1-element set means only the final batch survived")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      val walked = Files.walk(root)
      try walked.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally walked.close()
    }
  }

  /** A (k, v) file stream of three single-row triggers, staged under `dir`. */
  private def threeTriggers(dir: String) = {
    SparkTest.stageTriggerFiles(s"$dir/stream",
      Seq((1L, 10L), (2L, 20L), (1L, 30L)).map(Seq(_).toDF("k", "v")))
    spark.readStream.schema("k BIGINT, v BIGINT")
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(s"$dir/stream")
  }

  private def ckptDirs(name: String): Seq[String] = {
    val listed = java.nio.file.Files.list(
      java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
    try listed.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith(s"graft-ckpt-$name")).toSeq
    finally listed.close()
  }

  test("q206's builder leaves a frame the caller cached in the cache") {
    val mine = Tables.orders(spark, SparkTest.sfDir).select("o_orderkey").persist()
    try {
      mine.count()
      val level = mine.storageLevel
      assert(level != org.apache.spark.storage.StorageLevel.NONE)
      Pins.freeCheckpoint(StreamingOps.q206StreamingSpanIngest(spark, SparkTest.sfDir))
      assert(mine.storageLevel == level, "q206 dropped the caller's cache")
    } finally mine.unpersist()
  }

  test("a drain whose perBatch hook throws frees its kept batches and its checkpoint dir") {
    import org.apache.spark.sql.streaming.StreamingQueryException
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft_hookfail")
    try {
      val stream = threeTriggers(dir.toString)
      val before = sc.getPersistentRDDs.keySet.toSet
      var kept = 0
      intercept[StreamingQueryException] {
        StreamingOps.drainAndClean(spark, stream, "hookfail", outputMode = "append",
          perBatch = (df, id) =>
            if (id < 2) { kept += 1; df.localCheckpoint() }
            else throw new IllegalStateException("hook failed"))(identity)
      }
      assert(kept == 2, "the first two triggers must have been kept")
      assert(sc.getPersistentRDDs.keySet.toSet == before)
      assert(ckptDirs("hookfail").isEmpty)
    } finally FsUtil.deleteRecursively(dir)
  }

  test("a successful drain adds only the returned frame's blocks") {
    // complete mode keeps the latest trigger only and frees each one it
    // replaces; append keeps one block set per trigger
    import org.apache.spark.sql.execution.LogicalRDD
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft_drainblocks")
    try {
      val stream = threeTriggers(dir.toString)
      Seq(
        ("complete", stream.groupBy("k").agg(sum("v").as("v")), 1,
          Seq((1L, 40L), (2L, 20L))),
        ("append", stream, 3, Seq((1L, 10L), (1L, 30L), (2L, 20L)))
      ).foreach { case (mode, agg, nKept, expected) =>
        val before = sc.getPersistentRDDs.keySet.toSet
        val out = StreamingOps.drainAndClean(spark, agg, s"blocks_$mode",
          outputMode = mode)(_.orderBy("k", "v"))
        val added = sc.getPersistentRDDs.keySet.toSet -- before
        val leaves = out.queryExecution.analyzed.collectLeaves()
          .collect { case lr: LogicalRDD => lr.rdd.id }.toSet
        assert(added == leaves && added.size == nKept, mode)
        assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == expected, mode)
        Pins.freeCheckpoint(out)
        assert(ckptDirs(s"blocks_$mode").isEmpty, mode)
      }
    } finally FsUtil.deleteRecursively(dir)
  }

  test("a two-trigger sig ingest drain adds only the returned frame's blocks") {
    // sigIngestTrigger returns each trigger's result materialized, and
    // the drain keeps that frame as is: no second copy per trigger, and
    // no copy of the last trigger's result left behind
    import org.apache.spark.sql.execution.LogicalRDD
    val sc = spark.sparkContext
    val words = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet", "kilo", "lima")
    def text(k: Int) = (0 until 8).map(j => words((k + j) % words.size)).mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft_sigblocks").toString
    try {
      ops.VersionedStore.init(ops.Similarity.sigBands(
        Seq((1L, text(0)), (2L, text(4))).toDF("doc_id", "text")), s"$dir/store")
      SparkTest.stageTriggerFiles(s"$dir/stream",
        Seq(Seq((10L, text(0))), Seq((11L, text(8)))).map(_.toDF("doc_id", "text")))
      val stream = spark.readStream
        .schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(s"$dir/stream")
      val before = sc.getPersistentRDDs.keySet.toSet
      val out = StreamingOps.drainAndClean(spark, stream, "sigblocks",
        outputMode = "append",
        perBatch = StreamingOps.sigIngestTrigger(spark, s"$dir/store"))(identity)
      val added = sc.getPersistentRDDs.keySet.toSet -- before
      val leaves = out.queryExecution.analyzed.collectLeaves()
        .collect { case lr: LogicalRDD => lr.rdd.id }.toSet
      assert(added == leaves && added.size == 2, s"added $added, returned $leaves")
      Pins.freeCheckpoint(out)
    } finally FsUtil.deleteRecursively(dir)
  }

  test("a drain that sizes the shuffle refuses while another query is active") {
    // shuffleParts is set on the session, so it would reach the other
    // query's next batches: the drain must fail before touching the conf
    val input = MemoryStream[Int](spark)
    val other = input.toDF().writeStream.format("noop").queryName("other_q").start()
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    try {
      val agg = StreamingOps.eventStream(spark, SparkTest.sfDir)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      val e = intercept[IllegalStateException] {
        StreamingOps.drainAndClean(spark, agg, "busy", shuffleParts = 3)(identity)
      }
      assert(e.getMessage.contains("other_q") && e.getMessage.contains("shuffleParts=3"))
      assert(spark.conf.get(key) == before)
      assert(spark.streams.active.map(_.name).toSeq == Seq("other_q"))
    } finally other.stop()
  }

  test("a second q172 drain on the same session compiles no classes") {
    // every drain runs in a session cloned at start(); an artifact-isolated
    // clone gets a new executor class loader, and the codegen cache is keyed
    // on the loader, so each call would recompile the same classes
    import org.apache.spark.metrics.source.CodegenMetrics
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def drain() = StreamingOps.q172StreamingAvailableNow(spark, SparkTest.sfDir)
      .collect().map(_.toSeq).toSeq
    val first = drain()
    val before = compiles()
    val second = drain()
    assert(compiles() - before == 0)
    assert(second == first)
  }

  test("drainAndClean leaves the clone confs as it found them, on success and on a start() failure") {
    import org.apache.spark.sql.AnalysisException
    import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
    val keys = Seq("spark.sql.artifact.isolation.enabled",
      "spark.sql.streaming.checkpointFileManagerClass")
    def state: Seq[Option[String]] = keys.map(spark.conf.getAll.get)
    def put(s: Seq[Option[String]]): Unit = keys.zip(s).foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    val ev = StreamingOps.eventStream(spark, SparkTest.sfDir)
    val counts = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    // append of an aggregation without a watermark: start() rejects it
    val unwatermarked = ev.groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
    val initial = state
    // an unset key must stay unset, a set one keep its value
    try Seq(Seq(None, None),
        Seq(Some("true"), Some(classOf[FileContextBasedCheckpointFileManager].getName)))
      .foreach { start =>
        put(start)
        val out = StreamingOps.drainAndClean(spark, counts, "confs_ok")(identity)
        assert(state == start)
        assert(out.count() > 0)
        Pins.freeCheckpoint(out)
        intercept[AnalysisException] {
          StreamingOps.drainAndClean(spark, unwatermarked, "confs_bad",
            outputMode = "append")(identity)
        }
        assert(state == start)
      }
    finally put(initial)
  }

  test("a drain that sizes the shuffle leaves an unset shuffle.partitions unset, on success and on failure") {
    import org.apache.spark.sql.AnalysisException
    val key = "spark.sql.shuffle.partitions"
    val initial = spark.conf.getAll.get(key)
    val ev = StreamingOps.eventStream(spark, SparkTest.sfDir)
    val counts = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    // append of an aggregation without a watermark: start() rejects it
    val unwatermarked = ev.groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
    spark.conf.unset(key)
    try {
      val out = StreamingOps.drainAndClean(spark, counts, "parts_ok",
        shuffleParts = 3)(identity)
      assert(spark.conf.getAll.get(key).isEmpty)
      assert(out.count() > 0)
      Pins.freeCheckpoint(out)
      intercept[AnalysisException] {
        StreamingOps.drainAndClean(spark, unwatermarked, "parts_bad",
          outputMode = "append", shuffleParts = 3)(identity)
      }
      assert(spark.conf.getAll.get(key).isEmpty)
    } finally initial.foreach(spark.conf.set(key, _))
  }
}
