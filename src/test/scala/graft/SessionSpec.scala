package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Source scans: the shared test session is built by [[Session.local]],
  * no other main-code file configures a session of its own (each conf
  * is set in one place), and `src/main` carries no member that only
  * specs reach unless it is allowlisted with a reason. */
class SessionSpec extends AnyFunSuite {

  test("SparkTest.session carries the Session.local confs") {
    val s = SparkTest.session
    assert(s.sparkContext.master == "local[4]")
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(s.conf.get("spark.sql.codegen.cache.maxEntries") == "8192")
    assert(s.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(s.sparkContext.uiWebUrl.isEmpty)
  }

  private def scalaFiles(dir: String): List[Path] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    scala.util.Using.resource(Files.walk(root))(
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList)
  }

  /** The Scala files under `dir`, each with its trimmed lines, comment
    * lines dropped: a scaladoc may name what it describes. */
  private def codeLines(dir: String): List[(Path, Seq[String])] =
    scalaFiles(dir).map(p => p -> Files.readAllLines(p).asScala.toSeq.map(_.trim)
      .filterNot(t => t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")))

  test("SparkSession.builder is called only in Session.scala") {
    val callers = codeLines("src/main/scala")
      .filter(_._2.exists(_.contains("SparkSession.builder")))
      .map(_._1.getFileName.toString)
    assert(callers == List("Session.scala"))
  }

  test("defaultParallelism is read only in Layout.scala") {
    // partition counts come from the data through Layout; its drain
    // cap is the one count that reads the cluster's width
    val readers = codeLines("src/main/scala")
      .filter(_._2.exists(_.contains("defaultParallelism")))
      .map(_._1.getFileName.toString)
    assert(readers == List("Layout.scala"), s"defaultParallelism read in $readers")
  }

  test("the word tokenizer's split pattern is written only in TextOps.scala") {
    // TextOps.tokens is the one tokenizer; oracle SQL spells the
    // pattern in single quotes and is not matched
    val writers = codeLines("src/main/scala")
      .filter(_._2.exists(_.contains("\"[^a-z]+\"")))
      .map(_._1.getFileName.toString)
    assert(writers == List("TextOps.scala"), s"tokenizer written in $writers")
  }

  test("executor storage is released only through Pins and the harness") {
    // caches and checkpoints are released by graft.Pins; the harness's
    // backstop (SparkEntry.releasing) is the one other route
    val tokens = Seq(".unpersist(", "getPersistentRDDs", "clearCache", "storageLevel ==")
    val outside = codeLines("src/main/scala")
      .filterNot(f => Set("Pins.scala", "SparkEntry.scala")(f._1.getFileName.toString))
      .flatMap { case (p, ls) =>
        ls.filter(l => tokens.exists(l.contains)).map(l => s"${p.getFileName}: $l") }
    assert(outside.isEmpty, s"storage released outside Pins: ${outside.mkString("; ")}")
  }

  test("no spec builds a session; session confs and the function registry each have one route") {
    // string literals blanked: this spec names the patterns it scans for
    def callers(dir: String, pattern: String) = codeLines(dir).filter(_._2.exists(
      _.replaceAll("\"(\\\\.|[^\"\\\\])*\"", "\"\"").contains(pattern)))
      .map(_._1.getFileName.toString)
    val builders = callers("src/test/scala", "SparkSession.builder()")
    assert(builders.isEmpty, s"specs building a session: $builders")
    // each spark.conf.set/unset sits in the body of `def withConf`: its
    // enclosing def is the nearest less-indented `def` line above it
    val confWrite = """.*spark\.conf\.(set|unset)\(.*"""
    val defLine = """(\w+(\[\w+\])? )*def \w+.*"""
    val outside = codeLines("src/main/scala").flatMap { case (p, _) =>
      val raw = Files.readAllLines(p).asScala.toVector
      def indent(i: Int) = raw(i).takeWhile(_ == ' ').length
      raw.indices.filter { i =>
        val t = raw(i).trim
        !t.startsWith("*") && !t.startsWith("//") && t.matches(confWrite) &&
          !(i - 1 to 0 by -1)
            .find(j => raw(j).trim.matches(defLine) && indent(j) < indent(i))
            .exists(raw(_).contains("def withConf"))
      }.map(i => s"${p.getFileName}:${i + 1}")
    }
    assert(outside.isEmpty, s"session confs set outside withConf: $outside")
    assert(callers("src", "functionRegistry") == List("GraftShims.scala"))
  }

  /** The `src/main` members no declared query, main or benchmark path
    * reaches, keyed `Object.member` (or `Object` for all of its
    * members), each with why it stays. */
  private val specOnly: Map[String, String] = Map(
    "MoviePipeline.readMoviesFidelity" ->
      "the reference ETL's own surface: R11's retried movie read",
    "MoviePipeline.readMoviesWithCorrupt" ->
      "the reference ETL's own surface: R4's bad-line handling",
    "GraftExtensions.install" ->
      "the one SQL route for the engine's functions, through GraftShims.registerFunction",
    "ObservabilityOps" ->
      "ROADMAP item 9 either wires it into the pipelines or deletes it",
    "SemStoreOps.semAdmitted" -> "the ground truth for q210's drain",
    "PqOps.decodeLocal" -> "reconstructs codes to check pqEncode",
    "Similarity.jaccardUdf" ->
      "the independent cross-check of the native jaccard_sorted",
    "Extended10.semDedupCells" ->
      "the explicit-k entry to the reached semDedupOnReps")

  /** The lines of each Scala file under `dir`, with comments and the
    * text of string literals blanked; the expressions an interpolated
    * string splices in stay. */
  private def blankedLines(dir: String): List[(Path, Vector[String])] = {
    val lexeme = ("(?s)//[^\n]*|/\\*.*?\\*/|\"\"\"(.*?)\"\"\"(?!\")|" +
      "\"(?:\\\\.|[^\"\\\\\\n])*\"|'(?:\\\\.|[^'\\\\\\n])'").r
    val spliced = "\\$\\{[^}]*\\}|\\$\\w+".r
    def blank(s: String) = s.map(c => if (c == '\n') c else ' ')
    scalaFiles(dir).map { p =>
      val src = Files.readString(p)
      val out = lexeme.replaceAllIn(src, m => {
        val text = m.matched
        val interpolated = text.startsWith("\"") && m.start > 0 &&
          Character.isLetter(src.charAt(m.start - 1))
        val kept =
          if (text.startsWith("'")) text
          else if (!interpolated) blank(text)
          else {
            val b = new StringBuilder(blank(text))
            spliced.findAllMatchIn(text).foreach(s =>
              b.replace(s.start, s.end, s.matched))
            b.toString
          }
        scala.util.matching.Regex.quoteReplacement(kept)
      })
      p -> out.split("\n", -1).toVector
    }
  }

  test("every src/main def, val and class is reached outside its definition or allowlisted") {
    // a member is reached when its name occurs in its own file outside
    // its declaration line or, elsewhere in src/main or perfbench/scala,
    // as `Object.member` for an object's member and by its bare name for
    // any other (a class's members are called on instances). Overrides
    // are callbacks and a `main` is an entry point: neither is scanned.
    val decl = ("(?:@\\w+ )*(?:(?:private|protected)(?:\\[\\w+\\])? |final |" +
      "implicit |lazy |case |sealed |abstract )*(?:def|val|class) (\\w+).*").r
    val owner = ("(?:(?:private|protected)(?:\\[\\w+\\])? |final |implicit |" +
      "case |sealed |abstract )*(object|class|trait) (\\w+).*").r
    val word = "\\w+".r
    val qualified = "(\\w+)(?=\\s*\\.\\s*(\\w+))".r
    def counts(ls: Seq[String]) = (ls.flatMap(word.findAllIn) ++
      ls.flatMap(qualified.findAllMatchIn(_).map(m => s"${m.group(1)}.${m.group(2)}")))
      .groupBy(identity).view.mapValues(_.size).toMap.withDefaultValue(0)
    def indent(l: String) = l.takeWhile(_ == ' ').length
    val main = blankedLines("src/main/scala")
    val inFile = (main ++ blankedLines("perfbench/scala"))
      .map { case (p, ls) => p -> counts(ls) }.toMap
    val total = inFile.values.flatten.groupMapReduce(_._1)(_._2)(_ + _).withDefaultValue(0)
    val unreached = (for {
      (p, raw) <- main
      (line, i) <- raw.zipWithIndex
      name <- decl.unapplySeq(line.trim).flatMap(_.headOption) if name != "main"
      own = inFile(p)
      obj = (i - 1 to 0 by -1).map(raw).find(l => indent(l) < indent(line) &&
        owner.matches(l.trim)).flatMap(l => owner.unapplySeq(l.trim))
        .collect { case List("object", o) => o }
      key = obj.fold(name)(o => s"$o.$name")
      if own(name) == counts(Seq(line))(name) && total(key) == own(key)
    } yield s"${p.getFileName.toString.stripSuffix(".scala")}.$name").distinct
    def allowed(m: String) = specOnly.contains(m) ||
      specOnly.contains(m.takeWhile(_ != '.'))
    val unexplained = unreached.filterNot(allowed)
    assert(unexplained.isEmpty,
      s"src/main members only specs reach: ${unexplained.mkString(", ")}")
    val stale = specOnly.keys.filterNot(k =>
      unreached.exists(m => m == k || m.takeWhile(_ != '.') == k))
    assert(stale.isEmpty, s"allowlisted but reached or gone: $stale")
  }
}
