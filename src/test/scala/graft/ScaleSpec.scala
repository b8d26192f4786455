package graft

import graft.ops.ScaleOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The scale techniques are semantics-preserving: salting must not
  * change join results, and a bucketed state table must join without an
  * Exchange on the state side. */
class ScaleSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session
  val dir: String = SparkTest.sfDir

  test("salted join returns exactly the plain join's rows") {
    val fact = Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val dim = Tables.customer(spark, dir)
      .select(col("c_custkey").as("o_custkey"), col("c_name"))
    val cols = Seq("o_custkey", "o_orderkey", "o_totalprice", "c_name").map(col)
    val plain = fact.join(dim, "o_custkey").select(cols: _*)
      .orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    val salted = ScaleOps.saltedEquiJoin(fact, dim, "o_custkey")
      .select(cols: _*)
      .orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    assert(plain.nonEmpty && salted == plain)
  }

  test("groupedShardedCumSum equals the per-group global window exactly") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // uneven groups (one empty after filtering, one singleton, one big)
    // and non-contiguous order values — the shard-width math must not
    // care about any of it
    val rows = (1 to 500).map(i =>
      (if (i % 7 == 0) "a" else if (i % 3 == 0) "b" else "c",
        i.toLong * 13 % 997 * 1000 + i, (i % 50 + 1).toLong))
    val df = rows.toDF("grp", "ord", "v")
    val expect = df.withColumn("cum",
      sum("v").over(Window.partitionBy("grp").orderBy("ord")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("grp", "ord", "cum").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val got = ScaleOps.groupedShardedCumSum(df, "grp", "ord", "v", "cum", 8)
      .select("grp", "ord", "cum").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == expect)
  }

  test("shardedMd5Rank equals the direct per-stratum md5 window exactly") {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(spark, dir).select("doc_id", "lang")
    val direct = d.withColumn("rnk", row_number().over(
      Window.partitionBy("lang")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))))
      .select("doc_id", "lang", "rnk")
      .orderBy("lang", "rnk").collect().map(_.toSeq).toSeq
    val sharded = ScaleOps.shardedMd5Rank(d, "lang", "doc_id")
      .select("doc_id", "lang", "rnk")
      .orderBy("lang", "rnk").collect().map(_.toSeq).toSeq
    assert(direct.nonEmpty && sharded == direct)
  }

  test("shardedMd5Rank: skewed/degenerate strata still match the direct window") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // singleton stratum, empty-adjacent ids, one hot stratum with 5000
    // rows (every md5 prefix exercised), a stratum of 2 — the shapes the
    // offset stitching can get wrong
    val rows = Seq.tabulate(5000)(i => (i.toLong, "hot")) ++
      Seq((900001L, "solo")) ++ Seq((900010L, "duo"), (900011L, "duo"))
    val d = rows.toDF("doc_id", "lang")
    val direct = d.withColumn("rnk", row_number().over(
      Window.partitionBy("lang")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))))
      .select("doc_id", "lang", "rnk")
      .orderBy("lang", "rnk").collect().map(_.toSeq).toSeq
    val sharded = ScaleOps.shardedMd5Rank(d, "lang", "doc_id")
      .select("doc_id", "lang", "rnk")
      .orderBy("lang", "rnk").collect().map(_.toSeq).toSeq
    assert(sharded == direct)
  }

  test("packSequencesGrouped equals per-group packSequences") {
    import org.apache.spark.sql.functions._
    val tok = Tables.documents(spark, dir).select("doc_id", "text")
      .select(col("doc_id"),
        regexp_count(col("text"), lit("\\S+")).cast("long").as("n_tokens"))
      .withColumn("grp", (pmod(col("doc_id"), lit(3))).cast("string"))
    val grouped = graft.ops.Extended.packSequencesGrouped(
        tok, "grp", cap = 512, nShards = 4)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val separate = Seq("0", "1", "2").flatMap { g =>
      graft.ops.Extended.packSequences(
        tok.filter(col("grp") === g).select("doc_id", "n_tokens"),
        cap = 512, nShards = 4)
        .collect().map(r => (g, r.getLong(0)) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    }.toMap
    assert(grouped == separate && grouped.nonEmpty)
  }

  test("bucketed state table joins without shuffling the state side") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_bucket").toString
    val state = Tables.events(spark, dir)
      .groupBy("user_id").agg(max("ts").as("last_ts"))
    SparkTest.writeBucketedState(state, "state_bucketed", tmp, Seq("user_id"))
    try {
      val incoming = Tables.events(spark, dir)
        .select("user_id", "event_id", "ts")
      // hint forces the shuffle-family join (at test scale the state
      // table is broadcast-small, which would sidestep bucketing)
      val merged = spark.table("state_bucketed").hint("merge")
        .join(incoming, "user_id")
      val plan = merged.queryExecution.executedPlan.toString
      // the state scan branch must carry no Exchange: bucketing already
      // matches the join's required distribution
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a shuffle-family join:\n$plan")
      val exchangesTotal = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(exchangesTotal == 1,
        s"expected exactly one hash exchange (incoming side only), got $exchangesTotal:\n$plan")
      assert(merged.count() == incoming.count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS state_bucketed")
    }
  }

  test("AQE splits a skewed join partition at runtime") {
    import spark.implicits._
    // the runtime half of the skew story (saltedEquiJoin is the manual
    // half): one hot key dominating the fact side; with skew thresholds
    // scaled to test size, AQE must mark the sort-merge join skew=true
    // and split the hot partition — no user-side rewrite.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // 90% of rows on one key: the hot partition dwarfs the median
      // by far more than skewedPartitionFactor
      val fact = (1 to 60000).map(i =>
        (if (i % 10 != 0) 999L else (i % 50).toLong,
          s"payload_$i" * 4)).toDF("k", "payload")
      val dim = (0L to 999L).map(k => (k, s"dim_$k")).toDF("k", "name")
      val joined = fact.join(dim, "k")
      // materialize THIS DataFrame's own QueryExecution (count() would
      // plan a separate aggregate query), then read its final adaptive plan
      assert(joined.collect().length == 60000)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"expected a skew-split join in the adaptive plan:\n$finalPlan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
