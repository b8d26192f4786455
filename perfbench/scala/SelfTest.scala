package perfbench

import java.nio.file.Paths

/** Checks of the movie generator and KV checker, run by
  * perfbench/test_perfbench.py: `SelfTest <dir>` writes the inputs of one
  * seed twice (dir/a, dir/b) for a byte comparison, then reports whether
  * the checker accepts correct values and flags a planted wrong one. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val dir = Paths.get(args(0))
    val sizes = MovieSizes(movies = 50, customers = 40, incomingEvents = 300,
      stateEvents = 600, shards = 2)
    for (sub <- Seq("a", "b")) {
      val in = MovieData.generate(11, sizes)
      MovieData.writeJsonl(in, dir.resolve(sub).resolve("movies"), sizes.shards, 11)
      MovieData.writeState(in.state, dir.resolve(sub).resolve("state"))
    }
    val in = MovieData.generate(11, sizes)
    val expected = MovieData.expectedKv(MovieData.expectedRows(in))
    val store = new java.util.HashMap[String, String]()
    expected.foreach { case (k, es) => store.put(k, MovieData.render(es)) }
    val clean = MovieData.check(store, expected)._2
    val (key, es) = expected.head
    store.put(key, MovieData.render(es.updated(0, es(0).copy(rating = es(0).rating % 5 + 1))))
    val planted = MovieData.check(store, expected)._2
    println(s"""{"clean_mismatches": $clean, "planted_mismatches": $planted}""")
  }
}
