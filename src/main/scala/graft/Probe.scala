package graft

/** Throwaway probe main: smoke-checks SparkEntry.entry the way the driver
  * does (t1: rows > 0 on sf0.001). */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(4)
    val n = SparkEntry.entry(spark).count()
    println(s"ENTRY_ROWS=$n")
    spark.stop()
  }
}
