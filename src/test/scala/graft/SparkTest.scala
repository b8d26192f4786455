package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession across all suites (startup costs ~10s). */
object SparkTest {
  lazy val session: SparkSession = Session.local(4)
  val sfDir = "/root/testdata/sf0.001"
}
