package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each selected query's result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (`tools/compare.py`).
  * `SPARK_GRAFT_ONLY` restricts the dump to named queries
  * ([[SparkEntry.selected]]); unset, every declared query is dumped. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val selected = SparkEntry.selected()
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    selected.foreach { d =>
      SparkEntry.releasing(spark) {
        try d.build(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/${d.name}")
        catch { case e: Throwable =>
          System.err.println(s"[verify] ${d.name} failed: ${e.getMessage}")
        }
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in a declared oracle's SQL would otherwise make the
    * reader's json.load fail and silently zero the correctness check. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
