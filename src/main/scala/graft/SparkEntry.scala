package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: its name, its builder over a table directory, and
  * the equivalent ANSI SQL that DuckDB runs on the same parquet tables,
  * or `None` where the result is not SQL-expressible (a trailing comment
  * says why). */
final case class Declared(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the t2 correctness surface: each entry's result (written to
  * parquet by [[Verify]]) is hash-compared by the driver against DuckDB
  * executing the matching [[oracleSql]] on the same tables. Queries without
  * an oracle (approximate / not SQL-expressible) get a rows-only check and
  * are covered by ScalaTest instead.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference pipeline's shape end-to-end: dedup-latest per key then
    * regroup per user (SURVEY.md §2.1 R5–R10) over the events table.
    */
  def entry(spark: SparkSession): DataFrame =
    ops.CorePipeline.q06DedupLatest(spark, "/root/testdata/sf0.001")

  /** Every declared query, each module named once. Fails with the names
    * declared more than once. */
  lazy val declared: Seq[Declared] = requireDistinct(Seq(
    ops.CorePipeline.declared, ops.Relational.declared, ops.TextOps.declared,
    ops.Similarity.declared, ops.StreamingOps.declared,
    ops.MultimodalOps.declared, pipeline.CorpusPipeline.declared,
    ops.Extended.declared, ops.Extended2.declared, ops.Extended3.declared,
    ops.GraphOps.declared, ops.Clustering.declared, ops.TpchExtra.declared,
    ops.Extended4.declared, ops.Extended5.declared, ops.Extended6.declared,
    ops.Extended7.declared, ops.Extended8.declared, ops.Extended9.declared,
    ops.BpeOps.declared, ops.LrOps.declared, ops.Extended10.declared,
    ops.PqOps.declared, ops.SpanOps.declared, ops.SemStoreOps.declared
  ).flatten)

  /** `ds` unchanged when its names are distinct. */
  def requireDistinct(ds: Seq[Declared]): Seq[Declared] = {
    val dups = ds.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty,
      s"queries declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    ds
  }

  /** Each declared query's builder, by name. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = views._1

  /** Each declared oracle, by its query's name. */
  def oracleSql: Map[String, String] = views._2

  private lazy val views = (
    declared.map(d => d.name -> d.build).toMap,
    declared.flatMap(d => d.oracle.map(d.name -> _)).toMap)

  /** The declared queries a main runs, in name order: those
    * `SPARK_GRAFT_ONLY` names (comma-separated), or all of them when it
    * is unset. Fails with the undeclared names, so a main calls it
    * before its session starts. */
  def selected(only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY")): Seq[Declared] = {
    val names = only.map(_.split(",").map(_.trim).toSet)
    val unknown = names.fold(Set.empty[String])(_ -- queries.keySet)
    require(unknown.isEmpty, "SPARK_GRAFT_ONLY names undeclared queries: " +
      unknown.toSeq.sorted.mkString(", "))
    declared.filter(d => names.forall(_.contains(d.name))).sortBy(_.name)
  }

  /** `body`, then the release that keeps one query from taxing the next:
    * the SQL cache is cleared and every RDD persisted since `body` began
    * is unpersisted, blocking. That includes `localCheckpoint` blocks,
    * which `clearCache` cannot free (they are RDD storage, not SQL cache;
    * r4's bench showed 10–16× slowdowns on untouched queries from their
    * accumulation). */
  def releasing[T](spark: SparkSession)(body: => T): T = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    try body
    finally {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!before.contains(id)) rdd.unpersist(blocking = true)
      }
    }
  }
}
