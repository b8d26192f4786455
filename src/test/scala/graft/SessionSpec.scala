package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The shared test session is built by [[Session.local]], and no other
  * main-code file configures a session of its own: each conf is set in
  * one place. */
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

  /** The Scala files under `dir`, each with its trimmed lines, comment
    * lines dropped: a scaladoc may name what it describes. */
  private def codeLines(dir: String): List[(Path, Seq[String])] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val files = scala.util.Using.resource(Files.walk(root))(
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList)
    files.map(p => p -> Files.readAllLines(p).asScala.toSeq.map(_.trim)
      .filterNot(t => t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")))
  }

  test("SparkSession.builder is called only in Session.scala") {
    val callers = codeLines("src/main/scala")
      .filter(_._2.exists(_.contains("SparkSession.builder")))
      .map(_._1.getFileName.toString)
    assert(callers == List("Session.scala"))
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
}
