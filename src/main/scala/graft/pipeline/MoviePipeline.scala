package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference ETL (varungautam1411/movie-data-transformer) re-expressed
  * as composable DataFrame transforms — SURVEY.md §2.1 R1–R13.
  *
  * Reference shape (DataTransformationService.java:50–204): read movie
  * JSONL from S3 → explode `watchedBy` → regroup rating events per customer
  * → merge with existing per-customer state (dedup by movieId, most-recent
  * date wins, ties favor existing) → write JSON strings to a KV store.
  *
  * Semantics preserved (SURVEY.md §2.2):
  *  - quirk 1: output movieId comes from the PARENT record; the nested
  *    `watchedBy.movie-id` is parsed but ignored (DataTransformationService
  *    .java:159).
  *  - quirk 2: incoming beats existing only when BOTH dates parse as
  *    yyyy-MM-dd and incoming is STRICTLY later (`Date.after`, :245;
  *    ParseException → false, :246–249). Equal, unparseable, or missing
  *    dates keep existing.
  *  - quirk 3: the reference skips dedup entirely for customers absent
  *    from existing state (:190–195). `fidelity = true` reproduces that;
  *    the default dedups symmetrically (documented divergence).
  *  - quirk 4: reference list order is nondeterministic (concurrent
  *    appends :165); we impose `sort_array` — a required determinism fix.
  *
  * Scale notes: every step is declarative — the explode is narrow, the
  * regroup is one partial+final hash aggregate, and the state merge is one
  * full-outer join on the state key. `run` first cuts the state to the
  * batch's customers, so the merge's cost follows the batch's customers,
  * not the whole state, and it emits only those customers: the caller's
  * store already holds every other customer's value, as Redis did in the
  * reference. At 100 TB the state snapshot would be bucketed by
  * `customerId` so only the incoming delta shuffles.
  */
object MoviePipeline {

  /** Input schema, explicit (never inferred — determinism + no extra scan
    * at scale). JSON field aliases `customer-id` / `movie-id` follow
    * WatchedBy.java:7–10. */
  val inputSchema: StructType = StructType(Seq(
    StructField("movieId", StringType),
    StructField("title", StringType),
    StructField("yearOfRelease", IntegerType),
    StructField("watchedBy", ArrayType(StructType(Seq(
      StructField("customer-id", StringType),
      StructField("movie-id", StringType),
      StructField("rating", IntegerType),
      StructField("date", StringType)))))))

  /** R1–R4: JSONL source. `pathGlobFilter` mirrors the `.json` suffix
    * filter (DataTransformationService.java:88); listing/pagination is the
    * datasource's job (InMemoryFileIndex), as S3 ListObjectsV2 was the
    * reference's (:78–94). */
  def readMovies(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(inputSchema)
      .option("pathGlobFilter", "*.json")
      .option("mode", "PERMISSIVE")
      .json(path)

  /** R11 fidelity surface — the reference retries a failing file 3× and
    * then DROPS it entirely, continuing the batch
    * (DataTransformationService.java:112–129: silent per-file data
    * loss, by design). Spark's split of the same concern: TRANSIENT
    * read errors are retried by the scheduler (`spark.task.maxFailures`,
    * default 4 — the same "3 retries" posture, but per task and
    * cluster-wide), while a PERSISTENTLY unreadable file either fails
    * the job loudly (default — the engine's deliberate divergence) or,
    * with `dropCorruptFiles = true`, is skipped wholesale and the scan
    * continues: the reference's exact drop-and-continue semantics.
    * The glob admits `.json.gz` shards too — codec inference needs the
    * suffix, and compressed JSONL is the common corpus shape. */
  def readMoviesFidelity(spark: SparkSession, path: String,
      dropCorruptFiles: Boolean): DataFrame =
    spark.read.schema(inputSchema)
      .option("pathGlobFilter", "*.json*")
      .option("ignoreCorruptFiles", dropCorruptFiles.toString)
      .option("mode", "PERMISSIVE")
      .json(path)

  /** R4 malformed-line surface: PERMISSIVE parse keeps the raw line in a
    * corrupt-record column instead of failing the file. The reference
    * retries a failing file 3× and then DROPS it entirely
    * (DataTransformationService.java:124–126 — silent data loss); the
    * engine keeps every parseable line and surfaces the bad ones for
    * counting/quarantine.
    *
    * Implemented as text-source + `from_json` rather than the JSON
    * datasource with a corrupt-record column: the JSON scan raises
    * AnalysisException on queries that reference ONLY `_corrupt_record`
    * (e.g. a quarantine count) unless the frame was cached first — a
    * trap for library callers, and caching a 100 TB read is not an
    * option. `from_json` carries the corrupt line in the struct with no
    * such restriction and streams at any scale. */
  def readMoviesWithCorrupt(spark: SparkSession, path: String): DataFrame = {
    val schemaWithCorrupt = inputSchema.add("_corrupt_record", StringType)
    spark.read
      .option("pathGlobFilter", "*.json")
      .text(path)
      .filter(length(trim(col("value"))) > 0)
      .select(from_json(col("value"), schemaWithCorrupt,
        Map("mode" -> "PERMISSIVE",
            "columnNameOfCorruptRecord" -> "_corrupt_record")).as("r"))
      .select(col("r.*"))
  }

  /** R5–R6: explode `watchedBy` into one rating event per element and
    * project the OUTPUT shape. Parent `movieId` wins over the nested
    * `movie-id` (quirk 1). Empty/null arrays contribute nothing (matching
    * `forEach` on an empty list; the reference NPEs on null — we drop,
    * documented divergence). */
  def explodeEvents(movies: DataFrame): DataFrame =
    movies
      .select(col("movieId"), col("title"), col("yearOfRelease"),
        explode(col("watchedBy")).as("wb"))
      .select(
        col("wb.`customer-id`").as("customerId"),
        col("movieId"),
        col("title"),
        col("yearOfRelease"),
        col("wb.rating").as("rating"),
        col("wb.date").as("date"))

  /** Strict "incoming is more recent" — isMoreRecent (DataTransformation
    * Service.java:240–250): true only if both dates parse and the new one
    * is strictly later. `to_date` yields null on parse failure, and any
    * null comparison is false, which reproduces ParseException → false. */
  private def parseDate(c: Column): Column = try_to_date(c, "yyyy-MM-dd")

  private def moreRecent(newDate: Column, oldDate: Column): Column = {
    val n = parseDate(newDate)
    val o = parseDate(oldDate)
    n.isNotNull && o.isNotNull && (n > o)
  }

  /** Dedup WITHIN one snapshot: keep one event per (customerId, movieId).
    * The reference folds the incoming list sequentially through the same
    * comparator (first-seen wins unless strictly later) — order-dependent
    * in the reference, made deterministic here: latest parseable date
    * wins, null dates lose, final tie broken by rating then date string
    * so the result is unique. */
  def dedupLatest(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("customerId", "movieId")
      .orderBy(
        parseDate(col("date")).desc_nulls_last,
        col("rating").desc, col("date").desc_nulls_last,
        col("title").desc)
    events.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  private val eventCols = Seq("title", "yearOfRelease", "rating", "date")

  /** R9+R10: merge incoming events into existing per-(customer, movie)
    * state — the Redis read-modify-write collapsed into ONE full-outer
    * join. Pairwise rule per key (quirk 2): take incoming iff there is no
    * existing row, or incoming's date is strictly more recent with both
    * parseable; otherwise keep existing.
    *
    * `fidelity = true` reproduces quirk 3 (new-customer asymmetry): for
    * customers with NO existing state, incoming rows bypass dedup and all
    * duplicates survive, exactly like the else-branch at :190–195.
    * Customers already in the state are R9-folded either way: their
    * incoming duplicates collapse to one row per movie, which then
    * replaces or keeps the existing one.
    */
  def mergeState(existing: DataFrame, incoming: DataFrame,
                 fidelity: Boolean = false): DataFrame = {
    val ex = dedupLatest(existing).select(
      col("customerId"), col("movieId"),
      struct(eventCols.map(col): _*).as("ex"))
    val in = dedupLatest(incoming).select(
      col("customerId"), col("movieId"),
      struct(eventCols.map(col): _*).as("in"))
    val joined = ex.join(in, Seq("customerId", "movieId"), "full_outer")
    val takeIncoming = col("ex").isNull ||
      (col("in").isNotNull && moreRecent(col("in.date"), col("ex.date")))
    val merged = joined.select(
      col("customerId"), col("movieId"),
      when(takeIncoming, col("in")).otherwise(col("ex")).as("m"))
    val flat = merged.select(
      col("customerId"), col("movieId"),
      col("m.title").as("title"), col("m.yearOfRelease").as("yearOfRelease"),
      col("m.rating").as("rating"), col("m.date").as("date"))
    if (!fidelity) flat
    else {
      // quirk 3: customers absent from state keep ALL raw incoming rows
      // (dups included) — reproduce by replacing their merged rows with
      // the raw incoming rows.
      val existingCusts = ex.select("customerId").distinct()
      val known = flat.join(existingCusts, Seq("customerId"), "left_semi")
      val fresh = incoming
        .select("customerId", "movieId", "title", "yearOfRelease", "rating", "date")
        .join(existingCusts, Seq("customerId"), "left_anti")
      known.unionByName(fresh)
    }
  }

  /** R7+R8: regroup events per customer into the output record shape
    * (CustomerMovie.java:6–8) with a deterministic, sorted movie list. */
  def regroupCustomers(events: DataFrame): DataFrame =
    events.groupBy("customerId")
      .agg(sort_array(collect_list(struct(
        col("movieId"), col("title"), col("yearOfRelease"),
        col("rating"), col("date")))).as("watchedMovies"))

  /** R13: serialize to the KV shape the reference writes to Redis —
    * key "customer:"+id (DataTransformationService.java:178), value the
    * record as a JSON string (:187–188). */
  def toKv(grouped: DataFrame): DataFrame =
    grouped.select(
      concat(lit("customer:"), col("customerId")).as("key"),
      to_json(struct(col("customerId"), col("watchedMovies"))).as("value"))

  /** The whole pipeline, batch shape: files in, KV rows out.
    *
    * Output contract: one row per customer with an event in the batch,
    * and no others. With `existingState`, each row is that customer's
    * full merged value, the same key's value in
    * `toKv(regroupCustomers(mergeState(state, events, fidelity)))`.
    * Customers only in the state are not emitted: the batch cannot
    * change their value, and the caller's store already holds it, as
    * Redis did in the reference, whose GET + merge + SET loop touched
    * only the batch's customers (DataTransformationService.java:176–195).
    * Writing the output over a store that holds the state's values
    * therefore yields the full merge. Rows with a null `customerId` have
    * no key and are out of scope.
    *
    * The state is cut by a left-semi join before `mergeState`, so only
    * the batch's customers are deduped, joined, regrouped and
    * serialised. The join is shuffled, not broadcast: a broadcast
    * string-keyed hash relation holds a whole memory page for as long as
    * the broadcast lives. */
  def run(spark: SparkSession, inputPath: String,
          existingState: Option[DataFrame] = None,
          fidelity: Boolean = false): DataFrame = {
    val events = explodeEvents(readMovies(spark, inputPath))
    val merged = existingState match {
      case Some(state) =>
        val batchCustomers = events.select("customerId").hint("shuffle_hash")
        mergeState(state.join(batchCustomers, Seq("customerId"), "left_semi"),
          events, fidelity)
      case None => if (fidelity) events else dedupLatest(events)
    }
    toKv(regroupCustomers(merged))
  }
}
