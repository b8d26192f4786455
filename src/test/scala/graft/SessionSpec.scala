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

  test("SparkSession.builder is called only in Session.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val files = scala.util.Using.resource(Files.walk(root))(
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList)
    // comment lines may name the builder (GraftExtensions' scaladoc does)
    def calls(p: Path): Boolean = Files.readAllLines(p).asScala.exists { l =>
      val t = l.trim
      !t.startsWith("*") && !t.startsWith("//") && !t.startsWith("/*") &&
        t.contains("SparkSession.builder")
    }
    val callers = files.filter(calls).map(_.getFileName.toString)
    assert(callers == List("Session.scala"))
  }
}
