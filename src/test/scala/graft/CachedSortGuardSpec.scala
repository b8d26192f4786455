package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Guard for ops/Out.cachedOrderBy's placement criterion (r10, settled
  * by per-query 1000× A/B runs): a cached pre-sort must be
  * NUMERIC-COMPACT. Caching long or high-entropy strings (hex
  * fingerprints, redacted corpus text) measured SLOWER than
  * recomputing the tail — q37's sha2 column was 3× faster UNcached,
  * q62's redacted text 1.4× — so those sites were reverted to plain
  * orderBy; the criterion lived only in comments and BASELINE.md prose
  * until this spec. It walks every declared query's physical plan
  * (AQE off), finds range-partitioning sorts whose
  * sampling chain is headed by an InMemoryTableScan (= a cachedOrderBy
  * site), and bounds every string column of the cached schema by the
  * observed max length at sf0.001 — so the q37/q62 regression shape
  * fails a test instead of silently re-entering the bench.
  */
class CachedSortGuardSpec extends AnyFunSuite {
  lazy val spark = SparkTest.session

  // Streaming drains return their finish over micro-batch results
  // held in local-checkpoint blocks — an RDD scan can't expose a
  // cached sort, and building their plans runs the whole drain.
  // Skipped by NAME (validated against the declared map
  // below so a rename breaks loudly, not silently).
  private val streamingSkip = Set(
    "q28_tumbling", "q29_sliding", "q30_session",
    "q172_streaming_availablenow", "q192_streaming_kmv",
    "q194_streaming_session", "q195_streaming_interval_join",
    "q196_streaming_enrich", "q198_streaming_upsert")

  test("every cachedOrderBy site caches a numeric-compact schema") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.RDDScanExec
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.types.StringType
    assert(streamingSkip.subsetOf(SparkEntry.queries.keySet),
      "streaming skip list names a query that no longer exists")
    // caches inside the region a sort's sampling pass re-reads: walk
    // from the exchange child down to the nearest OTHER barrier
    def headCaches(p: SparkPlan): Seq[InMemoryTableScanExec] = p match {
      case c: InMemoryTableScanExec => Seq(c)
      case _: ShuffleExchangeExec => Nil
      case _: RDDScanExec => Nil
      case n => n.children.flatMap(headCaches)
    }
    val aqeKey = "spark.sql.adaptive.enabled"
    val prevAqe = spark.conf.getOption(aqeKey)
    spark.conf.set(aqeKey, "false")
    val sc = spark.sparkContext
    try {
      var cachedSorts = 0
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filterNot { case (name, _) => streamingSkip.contains(name) }
        .foreach { case (name, fn) =>
          val before = sc.getPersistentRDDs.keySet
          val df = fn(spark, SparkTest.sfDir)
          val caches = df.queryExecution.executedPlan.collect {
            case e: ShuffleExchangeExec
                if e.outputPartitioning.isInstanceOf[RangePartitioning] =>
              headCaches(e.child)
          }.flatten
          if (caches.nonEmpty) {
            cachedSorts += 1
            // measure from the CACHED relation itself, not the query
            // output (ADVICE r11): a long string cached mid-plan but
            // projected away before output — the exact q37 sha2 shape
            // behind a projection — must still fail the guard.
            // Specifically the relation's STORED plan, not this scan's
            // pruned output attributes (ADVICE r12): a string column
            // materialized in the cache but pruned at the scan still
            // costs cache build and memory, so every column the cache
            // stores is length-bounded here
            caches.foreach { c =>
              val stored = c.relation.cachedPlan
              val strIdx = stored.schema.fields.zipWithIndex
                .filter(_._1.dataType == StringType)
              if (strIdx.nonEmpty) {
                // re-executes the cached child plan (AQE is off here);
                // sf0.001: cached frames are tiny
                val rows = stored.executeCollect()
                strIdx.foreach { case (f, i) =>
                  val mx = rows.foldLeft(0) { (m, r) =>
                    if (r.isNullAt(i)) m
                    else math.max(m, r.getUTF8String(i).numChars)
                  }
                  assert(mx <= 32,
                    s"$name: cachedOrderBy holds string column '${f.name}' " +
                      s"with max length $mx at sf0.001 — string-heavy tails " +
                      "cache SLOWER than they recompute (BASELINE.md, " +
                      "'strings don't cache'); use plain orderBy, or A/B " +
                      "the site at the 1000x tier and record the win " +
                      "before caching")
                }
              }
            }
          }
          spark.catalog.clearCache()
          sc.getPersistentRDDs.foreach { case (id, rdd) =>
            if (!before.contains(id)) rdd.unpersist(blocking = true)
          }
        }
      // detector sanity: the repo has 16 cachedOrderBy call sites — if
      // the plan-walk stops seeing them (Spark internals moved), this
      // guard is dead and must be fixed, not silently green
      assert(cachedSorts >= 10,
        s"only $cachedSorts cache-headed range sorts detected across " +
          "the declared surface — the cachedOrderBy detector is broken")
    } finally {
      prevAqe match {
        case Some(v) => spark.conf.set(aqeKey, v)
        case None => spark.conf.unset(aqeKey)
      }
    }
  }
}
