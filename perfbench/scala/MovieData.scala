package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable

/** One rating event in the movie ETL's row shape (the state snapshot's
  * columns, and one exploded `watchedBy` element with its parent movie). */
final case class Event(customerId: String, movieId: String, title: String,
    yearOfRelease: Int, rating: Int, date: String)

/** Seeded movie inputs. `state` is empty for a first load. */
final case class MovieInputs(state: Vector[Event], incoming: Vector[Event],
    movies: Vector[(String, String, Int)])

/** Sizes of one movie workload. */
final case class MovieSizes(movies: Int, customers: Int, incomingEvents: Int,
    stateEvents: Int, shards: Int)

/** Seeded generator and single-threaded reference for the movie ETL.
  *
  * The reference is written from the merge rule, not from the program:
  * per (customer, movie) one event survives a snapshot (latest parseable
  * date, then higher rating, then larger date string, then larger title);
  * an incoming event replaces the existing one only when both dates parse
  * and the incoming date is strictly later. */
object MovieData {
  private val words = Vector("night", "river", "city", "ghost", "summer",
    "last", "red", "silent", "dark", "star", "lost", "king", "road", "blue",
    "iron", "glass", "wild", "storm", "empire", "shadow")
  private val badDates = Vector("unknown", "n/a", "31/12/2020")
  private val firstDay = LocalDate.of(2015, 1, 1).toEpochDay

  def generate(seed: Long, sz: MovieSizes): MovieInputs = {
    val rnd = new SplittableRandom(seed)
    val movies = Vector.tabulate(sz.movies) { i =>
      val title = (0 until 1 + rnd.nextInt(3)).map(_ => words(rnd.nextInt(words.size))).mkString(" ")
      (f"m$i%06d", s"$title $i", 1950 + rnd.nextInt(75))
    }
    def date(): String =
      if (rnd.nextInt(50) == 0) badDates(rnd.nextInt(badDates.size))
      else LocalDate.ofEpochDay(firstDay + rnd.nextInt(3650)).toString
    // square-law skew: low customer ids watch far more than high ones
    def customer(): String = {
      val u = rnd.nextDouble()
      f"c${(u * u * sz.customers).toInt}%06d"
    }
    // 1 in 6 events repeats an earlier (customer, movie) pair, with a
    // fresh date and rating, so both dedup and the tie rules are reached
    def events(n: Int): Vector[Event] = {
      val out = new mutable.ArrayBuffer[Event](n)
      while (out.size < n) {
        val e =
          if (out.nonEmpty && rnd.nextInt(6) == 0) {
            val p = out(rnd.nextInt(out.size))
            p.copy(rating = 1 + rnd.nextInt(5),
              date = if (rnd.nextInt(4) == 0) p.date else date())
          } else {
            // the last 2% of movies are never watched: empty `watchedBy`
            val (m, t, y) = movies(rnd.nextInt(movies.size * 49 / 50))
            Event(customer(), m, t, y, 1 + rnd.nextInt(5), date())
          }
        out += e
      }
      out.toVector
    }
    val state = events(sz.stateEvents)
    // the batch re-rates a share of the pairs already in state, so the
    // strictly-later rule decides between the two sides
    val fresh = events(sz.incomingEvents)
    val incoming =
      if (state.isEmpty) fresh
      else fresh.map { e =>
        if (rnd.nextInt(4) != 0) e
        else state(rnd.nextInt(state.size)).copy(rating = 1 + rnd.nextInt(5), date = date())
      }
    MovieInputs(state, incoming, movies)
  }

  /** Writes `incoming` as JSONL shards of movie records (every movie once,
    * unwatched ones with an empty `watchedBy`). */
  def writeJsonl(in: MovieInputs, dir: Path, shards: Int, seed: Long): Unit = {
    Files.createDirectories(dir)
    val rnd = new SplittableRandom(seed ^ 0x5deece66dL)
    val byMovie = in.incoming.groupBy(_.movieId)
    val sbs = Array.fill(shards)(new StringBuilder)
    in.movies.zipWithIndex.foreach { case ((m, t, y), i) =>
      val sb = sbs(i % shards)
      sb.append("{\"movieId\":\"").append(m).append("\",\"title\":\"").append(t)
        .append("\",\"yearOfRelease\":").append(y).append(",\"watchedBy\":[")
      byMovie.getOrElse(m, Vector.empty).zipWithIndex.foreach { case (e, j) =>
        if (j > 0) sb.append(',')
        // the nested movie-id is parsed but ignored by the ETL
        val nested = if (rnd.nextInt(30) == 0) "IGNORED" else m
        sb.append("{\"customer-id\":\"").append(e.customerId)
          .append("\",\"movie-id\":\"").append(nested)
          .append("\",\"rating\":").append(e.rating)
          .append(",\"date\":\"").append(e.date).append("\"}")
      }
      sb.append("]}\n")
    }
    sbs.zipWithIndex.foreach { case (sb, i) =>
      Files.write(dir.resolve(f"movies-$i%03d.json"), sb.toString.getBytes(UTF_8))
    }
  }

  /** Writes the state snapshot as one parquet file, without Spark. */
  def writeState(rows: Vector[Event], dir: Path): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.io.LocalOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message state { required binary customerId (STRING); required binary movieId (STRING); " +
        "required binary title (STRING); required int32 yearOfRelease; " +
        "required int32 rating; required binary date (STRING); }")
    Files.createDirectories(dir)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(dir.resolve("state.parquet")))
      .withType(schema).build()
    val f = new SimpleGroupFactory(schema)
    try rows.foreach { e =>
      w.write(f.newGroup().append("customerId", e.customerId).append("movieId", e.movieId)
        .append("title", e.title).append("yearOfRelease", e.yearOfRelease)
        .append("rating", e.rating).append("date", e.date))
    } finally w.close()
  }

  private def parsed(d: String): Option[LocalDate] =
    if (d != null && d.matches("\\d{4}-\\d{2}-\\d{2}"))
      scala.util.Try(LocalDate.parse(d)).toOption
    else None

  /** The event one snapshot keeps for a (customer, movie) pair. */
  private def better(a: Event, b: Event): Event = {
    val (da, db) = (parsed(a.date), parsed(b.date))
    val byDate = (da, db) match {
      case (Some(x), Some(y)) => x.compareTo(y)
      case (Some(_), None) => 1
      case (None, Some(_)) => -1
      case _ => 0
    }
    val c = if (byDate != 0) byDate
      else if (a.rating != b.rating) Integer.compare(a.rating, b.rating)
      else if (a.date != b.date) a.date.compareTo(b.date)
      else a.title.compareTo(b.title)
    if (c >= 0) a else b
  }

  private def dedup(es: Vector[Event]): mutable.HashMap[(String, String), Event] = {
    val m = new mutable.HashMap[(String, String), Event]
    es.foreach { e =>
      val k = (e.customerId, e.movieId)
      m.update(k, m.get(k).fold(e)(better(_, e)))
    }
    m
  }

  private def strictlyLater(in: String, ex: String): Boolean =
    (parsed(in), parsed(ex)) match {
      case (Some(a), Some(b)) => a.isAfter(b)
      case _ => false
    }

  /** Merged per-(customer, movie) state after the batch. */
  def expectedRows(in: MovieInputs): Vector[Event] = {
    val ex = dedup(in.state)
    dedup(in.incoming).foreach { case (k, e) =>
      ex.get(k) match {
        case Some(old) if !strictlyLater(e.date, old.date) => ()
        case _ => ex.update(k, e)
      }
    }
    ex.valuesIterator.toVector
  }

  /** Expected KV contents: key -> that customer's events sorted by movie. */
  def expectedKv(rows: Vector[Event]): Map[String, Vector[Event]] =
    rows.groupBy(_.customerId).map { case (c, es) => s"customer:$c" -> es.sortBy(_.movieId) }

  /** The per-customer state before the batch, as the previous batch run
    * wrote it: used to pre-load the store for a steady-state batch. */
  def stateKv(in: MovieInputs): Map[String, String] =
    expectedKv(dedup(in.state).valuesIterator.toVector).map { case (k, es) => k -> render(es) }

  /** A customer's value in the sink's JSON format. */
  def render(es: Vector[Event]): String = {
    val sb = new StringBuilder("{\"customerId\":\"").append(es.head.customerId)
      .append("\",\"watchedMovies\":[")
    es.zipWithIndex.foreach { case (e, i) =>
      if (i > 0) sb.append(',')
      sb.append("{\"movieId\":\"").append(e.movieId).append("\",\"title\":\"").append(e.title)
        .append("\",\"yearOfRelease\":").append(e.yearOfRelease)
        .append(",\"rating\":").append(e.rating)
        .append(",\"date\":\"").append(e.date).append("\"}")
    }
    sb.append("]}").toString
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Parses one stored value and compares it field by field with the
    * expected events; returns a description of the first difference. */
  def diff(key: String, value: String, expected: Vector[Event]): Option[String] =
    scala.util.Try(mapper.readTree(value)).toOption match {
      case None => Some(s"$key: value is not JSON")
      case Some(root) =>
        val got = root.path("watchedMovies")
        val cust = key.stripPrefix("customer:")
        if (root.path("customerId").asText(null) != cust) Some(s"$key: customerId differs")
        else if (!got.isArray || got.size != expected.size)
          Some(s"$key: ${got.size} movies, expected ${expected.size}")
        else expected.indices.collectFirst(Function.unlift { i =>
          val g = got.get(i); val e = expected(i)
          val same = g.path("movieId").asText(null) == e.movieId &&
            g.path("title").asText(null) == e.title &&
            g.path("yearOfRelease").isInt && g.path("yearOfRelease").asInt == e.yearOfRelease &&
            g.path("rating").isInt && g.path("rating").asInt == e.rating &&
            g.path("date").asText(null) == e.date
          if (same) None else Some(s"$key: movie $i is $g, expected $e")
        })
    }

  /** Checks a whole store; returns (values checked, mismatches, examples). */
  def check(store: java.util.Map[String, String],
      expected: Map[String, Vector[Event]]): (Long, Long, Seq[String]) = {
    val bad = mutable.ArrayBuffer[String]()
    expected.foreach { case (k, es) =>
      Option(store.get(k)) match {
        case None => bad += s"$k: missing"
        case Some(v) => diff(k, v, es).foreach(bad += _)
      }
    }
    store.keySet.forEach(k => if (!expected.contains(k)) bad += s"$k: unexpected key")
    (expected.size.toLong max store.size.toLong, bad.size.toLong, bad.take(5).toSeq)
  }
}
